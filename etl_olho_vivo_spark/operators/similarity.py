"""Similarity search over embedding columns (``array<float>``).

Three strategies (SURVEY §2.11):
- **brute-force cosine top-k** — the correctness baseline; a broadcast of
  the query vector + one JVM-side fold per row, then TakeOrdered(k).
  O(n·d) scan, no shuffle: at 100 TB this is a single pass.
- **IVF (inverted-file) top-k** — the scale path: rows are bucketed to
  their nearest centroid (coarse quantizer) once at ingest; a query probes
  only its own cell(s), cutting the scan by the number of cells.  Distances
  for cell assignment use **integer-quantized components** (round(x·1e6))
  so assignment is exact integer math — deterministic across engines and
  across partial-aggregation orders, the same trick scalar-quantized IVF
  indexes use.
- **PQ/ADC top-k** (Jégou et al. 2011, product quantization) — the
  memory-bounded scan path: each vector is encoded once at ingest as
  ``m_sub`` small codebook indices (bytes instead of d floats); a query
  precomputes an ``m_sub × k_codes`` distance lookup table and scores
  every row with ``m_sub`` table lookups — the whole query is ONE scan
  with a zero-corpus-shuffle plan (codebooks and the LUT ride in the
  expression as bounded literals), followed by an exact integer-L2
  re-rank of a bounded candidate pool (the classic two-stage ADC
  pipeline).  Codebooks here are seed-pinned (subvectors of the first
  ``k_codes`` vectors, quantized) so the DuckDB oracle replicates the
  whole computation exactly — the same demo-seeding contract as
  ``_default_centroids``; ``kmeans_centroids``-style refinement per
  subspace would slot in without changing the query shape.

All vector math is ``zip_with``/``aggregate`` higher-order Column
expressions — JVM-side, Arrow-free, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1000000.0  # 1e-6 component grid for exact integer distances

# The engine-wide per-cell density target (round 15, r14 verdict #4 —
# the density-adaptive DEFAULT posture).  Any IVF surface that derives
# a cell count derives it from this one number, so the near-dup
# operator, the index auto-rebuild, and the bench scale tier can never
# drift apart.  Why 128: the within-cell quadratic stage does
# ~occupancy²/2 ≈ 8k candidate dots per cell (sub-millisecond per
# task), probe cost per query is the probed cell's occupancy, and
# rebuild hysteresis (re-quantize to occupancy/2 on breach) keeps
# density oscillating in [64, 128] — cost per cell stays bounded while
# n_cells ∝ corpus keeps TOTAL near-dup work linear in rows.  At the
# sf0.1 test scale this reproduces the long-measured 16-cell
# parameterization exactly (2000 rows / 128 = 15.6 → 16), so the
# default is calibration-compatible with every prior round's numbers.
DEFAULT_CELL_OCCUPANCY = 128


def _dot_double(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (s, v) -> s + v)"
    )


def _quantize(a: str) -> str:
    return (
        f"transform({a}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}, 0) "
        f"AS BIGINT))"
    )


def duck_quantize_expr(a: str) -> str:
    """The DuckDB twin of ``_quantize`` — ONE definition of the
    quantization grid for both engines (oracles import this instead of
    restating the formula, so the grid cannot drift)."""
    return (
        f"list_transform({a}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}, "
        f"0) AS BIGINT))"
    )


def _dot_int(a: str, b: str) -> str:
    """Exact integer dot product of two quantized vectors."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (s, v) -> s + v)"
    )


def _l2sq_int(a: str, b: str) -> str:
    """Exact integer squared L2 distance of two quantized vectors."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (s, v) -> s + v)"
    )


def cosine_topk(
    emb: DataFrame, query_vec_id: int, k: int = 10, round_dp: int = 6
) -> DataFrame:
    """Brute-force cosine top-k against the embedding of ``query_vec_id``.

    cos is rounded (transcendental-free but summation-order-sensitive in
    the last ulps); ordering uses the rounded value + vec_id tiebreak so
    the top-k set is deterministic.
    """
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe")
    )
    if q.isEmpty():  # cheap pushed-filter probe; an empty top-k would
        # be indistinguishable from "nothing similar"
        raise ValueError(f"query_vec_id {query_vec_id} not in embeddings")
    cand = emb.filter(F.col("vec_id") != query_vec_id).crossJoin(
        F.broadcast(q)
    )
    dot = F.expr(_dot_double("embedding", "qe"))
    na = F.expr(_dot_double("embedding", "embedding"))
    nb = F.expr(_dot_double("qe", "qe"))
    cos = F.round(dot / (F.sqrt(na) * F.sqrt(nb)), round_dp)
    return (
        cand.select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


def _default_centroids(emb: DataFrame, n_cells: int) -> DataFrame:
    """Demo seeding: the first ``n_cells`` vectors, quantized — the form
    the SQL oracles replicate verbatim.  Single definition so assignment
    and probe selection can never desynchronize."""
    return emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.expr(_quantize("embedding")).alias("qc"),
    )


def ivf_assign(
    emb: DataFrame, n_cells: int = 8, centroids: DataFrame | None = None
) -> DataFrame:
    """Assign every vector to its nearest coarse centroid.

    Default centroids are the first ``n_cells`` vectors — deterministic
    demo seeding that the SQL oracles can replicate verbatim; pass the
    ``kmeans_centroids`` result for the production-quality quantizer (the
    assignment machinery is identical either way).  Exact integer
    distances + (dist, cell_id) ordering make the argmin fully
    deterministic.
    """
    if centroids is None:
        centroids = _default_centroids(emb, n_cells)
    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    # The n·cells distance evaluation is COMPUTE-bound (one 64-element
    # integer dot/HOF per candidate), and a small embeddings file scans
    # as one partition — at n_cells ∝ corpus the whole O(n·cells·d)
    # stage then runs on one core (the round-11 dial probe: 31 s of a
    # 34 s wall, single-threaded).  Hash-repartition the vectors by
    # vec_id up front: the broadcast cross join preserves it, so the
    # argmin groupBy and the qv join-back BOTH reuse this one exchange
    # (zero additional shuffles) — the same repartition(par, key)
    # compute-pin the edit-distance verify stage uses.
    vecs = emb.select(
        "vec_id", "label", F.expr(_quantize("embedding")).alias("qv")
    ).repartition(par, "vec_id")
    dist = F.expr(_l2sq_int("qv", "qc"))
    # Argmin as a SLIM aggregate, not a window: the old row_number form
    # shuffled n·cells rows each dragging two 64-long arrays.  Here the
    # broadcast cross join's candidates are projected to (vec_id, dist,
    # cell_id) BEFORE any exchange and min(struct) partial-aggregates
    # map-side (n·cells rows collapse to n inside the scan stage); the
    # qv payload rides the co-partitioned vec_id join-back instead of
    # the shuffle.  min(struct(dist, cell_id)) IS the (dist, cell_id)
    # ordering of the old window — exact integers, same deterministic
    # argmin.
    best = (
        vecs.select("vec_id", "qv")
        .crossJoin(F.broadcast(centroids))
        .select("vec_id", dist.alias("dist"), "cell_id")
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cell_id")).alias("b"))
        .select("vec_id", F.col("b.cell_id").alias("cell_id"))
    )
    # merge-pinned: `best` is CORPUS-scaled (one slim row per vector),
    # and without the pin AQE's runtime size estimate broadcasts it at
    # test scale — the exact round-7 hazard (a corpus-sized broadcast
    # build dies under a starved driver at 30×), and a violation of
    # the embedding-pairs plan pins ("corpus sides never broadcast").
    # Both sides are already hash-partitioned by vec_id (vecs by the
    # explicit repartition, best by the groupBy that reuses it), so the
    # sort-merge join adds two spillable sorts and ZERO exchanges.
    return vecs.join(best.hint("merge"), "vec_id").select(
        "vec_id", "label", "cell_id", "qv"
    )


def kmeans_centroids(
    emb: DataFrame,
    n_cells: int = 8,
    rounds: int = 2,
    oversample: int = 4,
    refine_iters: int = 1,
) -> DataFrame:
    """Deterministic k-means|| seeding + Lloyd refinement for the IVF
    coarse quantizer.

    Shape mirrors k-means|| (Bahmani et al., VLDB'12): ``rounds`` full
    scans each add ``oversample * n_cells`` candidates chosen by squared
    distance to the current candidate set — deterministic top-l by
    (d² DESC, vec_id) instead of the paper's d²-proportional random draw,
    so re-runs and task retries produce identical centroids (the same
    reason the engine never salts with rand()).  The tiny candidate pool
    is reduced driver-side by farthest-point traversal, then
    ``refine_iters`` distributed Lloyd steps recompute integer-quantized
    component means.

    Scale shape: every distributed step is one scan over the vectors plus
    a broadcast of at most ``1 + rounds * oversample * n_cells`` quantized
    vectors; driver state is that same tiny pool.  Nothing scales with n.
    """
    spark = emb.sparkSession
    vecs = emb.select(
        "vec_id", F.expr(_quantize("embedding")).alias("qv")
    ).persist()
    try:
        first = vecs.orderBy("vec_id").limit(1).collect()[0]
        pool: list[tuple[int, list[int]]] = [(first["vec_id"], list(first["qv"]))]
        l = oversample * n_cells
        for _ in range(rounds):
            cand = spark.createDataFrame(
                [(i, q) for i, q in pool], ["cid", "qc"]
            )
            dist = F.expr(_l2sq_int("qv", "qc"))
            far = (
                vecs.crossJoin(F.broadcast(cand))
                .groupBy("vec_id")
                .agg(F.min(dist).alias("d2"), F.first("qv").alias("qv"))
                .orderBy(F.desc("d2"), "vec_id")
                .limit(l)
                .collect()
            )
            seen = {i for i, _ in pool}
            pool += [
                (r["vec_id"], list(r["qv"]))
                for r in far
                if r["vec_id"] not in seen and r["d2"] > 0
            ]
        # farthest-point reduction of the tiny pool (driver-side, O(pool²·d))
        chosen = [pool[0]]
        rest = pool[1:]
        while len(chosen) < n_cells and rest:
            best = max(
                rest,
                key=lambda c: (
                    min(
                        sum((a - b) * (a - b) for a, b in zip(c[1], s[1]))
                        for s in chosen
                    ),
                    -c[0],
                ),
            )
            chosen.append(best)
            rest.remove(best)
        dim = len(chosen[0][1])
        cents = [(cell, q) for cell, (_, q) in enumerate(chosen)]
        for _ in range(refine_iters):
            cdf = spark.createDataFrame(cents, ["cell_id", "qc"])
            dist = F.expr(_l2sq_int("qv", "qc"))
            w = Window.partitionBy("vec_id").orderBy("dist", "cell_id")
            assigned = (
                vecs.crossJoin(F.broadcast(cdf))
                .select("vec_id", "qv", "cell_id", dist.alias("dist"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
            )
            # per-component integer means in ONE groupBy (d fixed & small —
            # no posexplode shuffle of n·d rows)
            means = assigned.groupBy("cell_id").agg(
                *[
                    F.round(F.avg(F.col("qv")[i]), 0)
                    .cast("long")
                    .alias(f"c{i}")
                    for i in range(dim)
                ]
            )
            got = {
                r["cell_id"]: [r[f"c{i}"] for i in range(dim)]
                for r in means.collect()
            }
            # a cell that attracted zero vectors this round has no mean
            # row; KEEP its previous centroid instead of silently
            # shrinking below n_cells (standard empty-cluster handling)
            cents = [(cid, got.get(cid, qc)) for cid, qc in cents]
        return spark.createDataFrame(cents, ["cell_id", "qc"])
    finally:
        vecs.unpersist()


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 1,
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: probe the ``n_probe`` IVF cells nearest the query, rank
    candidates by exact integer dot product (descending), vec_id tiebreak.

    ``n_probe`` is the standard IVF recall knob: 1 scans only the query's
    own cell (fastest, lowest recall); ``n_cells`` degenerates to exact
    search over every cell.  Cell selection ranks centroid distances in a
    tiny broadcast-side window — the candidate scan stays proportional to
    the probed fraction of the corpus.

    Metric note: candidates rank by INNER PRODUCT (MIPS) on the exact
    quantized components — the deterministic cross-engine metric.  For
    non-uniform vector norms this is a different ranking than the cosine
    baseline (a long vector at a wider angle can outrank a short aligned
    one); normalize embeddings at ingest when cosine semantics are
    required, as real retrieval corpora do.

    Production shape: pass ``assigned`` (a persisted ``ivf_assign``
    result — the index built once at ingest) so a query reads only its
    probed cells; without it the assignment is recomputed per call,
    which is the demo/oracle path, not the serving path.
    """
    if assigned is not None and centroids is None:
        # probe-cell selection below uses `centroids`; silently
        # recomputing defaults here would desynchronize the probe set
        # from whatever centroids built `assigned` — candidates would
        # come from the wrong cells with no error
        raise ValueError(
            "ivf_topk: pass the same `centroids` that produced "
            "`assigned` (probe cells and assignment must share one "
            "centroid frame)"
        )
    if centroids is None:
        centroids = _default_centroids(emb, n_cells)
    if assigned is None:
        assigned = ivf_assign(emb, n_cells, centroids)
    qv = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.expr(_quantize("embedding")).alias("q_qv")
    )
    if qv.isEmpty():
        raise ValueError(f"query_vec_id {query_vec_id} not in embeddings")
    # rank ALL centroids by distance to the query (n_cells rows — tiny),
    # keep the n_probe nearest as the probe set
    cdist = F.expr(_l2sq_int("qc", "q_qv"))
    probe = (
        centroids.crossJoin(F.broadcast(qv))
        .select("cell_id", "q_qv", cdist.alias("cd"))
        .orderBy("cd", "cell_id")
        .limit(n_probe)
        .select(F.col("cell_id").alias("q_cell"), "q_qv")
    )
    cand = assigned.filter(F.col("vec_id") != query_vec_id).join(
        F.broadcast(probe), F.col("cell_id") == F.col("q_cell")
    )
    dot = F.expr(_dot_int("qv", "q_qv"))
    return (
        cand.select("vec_id", "label", "cell_id", dot.alias("dot_q"))
        .orderBy(F.col("dot_q").desc(), "vec_id")
        .limit(k)
    )


def _sql_bigint_array(vals) -> str:
    """SQL literal for a bounded list of Python ints (BIGINT elements)."""
    return "array(" + ", ".join(f"{int(v)}L" for v in vals) + ")"


def pq_codebooks(
    emb: DataFrame, m_sub: int = 8, k_codes: int = 16
) -> list[list[list[int]]]:
    """Seed-pinned PQ codebooks: ``codebooks[s][j]`` is the ``s``-th
    subvector of the ``j``-th seed vector (``vec_id < k_codes``),
    integer-quantized — the deterministic demo seeding the SQL oracle
    replicates verbatim (same contract as ``_default_centroids``).

    Returned as plain Python lists because the whole structure is
    BOUNDED (``m_sub · k_codes · dim/m_sub = k_codes · dim`` ints) and
    rides into the encode/query expressions as literals — collecting it
    is a k_codes-row driver job, the same class as the centroid
    collects."""
    if m_sub < 1 or k_codes < 1:
        raise ValueError(f"m_sub/k_codes must be >= 1, got {m_sub}/{k_codes}")
    rows = (
        emb.filter(F.col("vec_id") < k_codes)
        .select("vec_id", F.expr(_quantize("embedding")).alias("qv"))
        .orderBy("vec_id")
        .collect()
    )
    if len(rows) < k_codes:
        raise ValueError(
            f"need vec_id 0..{k_codes - 1} as PQ seeds, found {len(rows)}"
        )
    # dim always derives from the seed row itself — a caller-supplied
    # dim smaller than the real vector length would silently encode a
    # PREFIX of every vector (scoring half the components while the
    # exact re-rank uses all of them), so the parameter does not exist
    dim = len(rows[0]["qv"])
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub_len = dim // m_sub
    return [
        [list(r["qv"][s * sub_len:(s + 1) * sub_len]) for r in rows]
        for s in range(m_sub)
    ]


def _pq_codes_expr(
    codebooks: list[list[list[int]]], col: str = "qv"
) -> str:
    """SQL expression computing the PQ code array for a quantized vector
    column ``col`` (default ``qv``; IVF-PQ encodes the RESIDUAL column):
    per subspace, the argmin-L2 codebook index (strict
    ``<`` keeps the LOWEST index on ties — deterministic).  Codebooks
    are inlined as literals, so encoding is a pure per-row projection:
    zero shuffle, embarrassingly parallel, exactly what a 100 TB ingest
    encode must be."""
    sub_len = len(codebooks[0][0])
    k = len(codebooks[0])
    codes = []
    for s, cb in enumerate(codebooks):
        cb_lit = "array(" + ", ".join(_sql_bigint_array(c) for c in cb) + ")"
        sub = f"slice({col}, {s * sub_len + 1}, {sub_len})"
        d_j = _l2sq_int(sub, f"element_at({cb_lit}, j + 1)")
        # the k distances materialize ONCE into (d, j) structs before
        # the argmin fold — Spark does not CSE inside HOF lambdas, so a
        # d_j repeated in the CASE condition and branch would double
        # the ingest-encode arithmetic
        pairs = (
            f"zip_with(transform(sequence(0, {k - 1}), j -> {d_j}), "
            f"sequence(0, {k - 1}), (d, j) -> named_struct('d', d, 'c', j))"
        )
        codes.append(
            f"aggregate({pairs}, "
            f"named_struct('d', 9223372036854775807L, 'c', -1), "
            f"(acc, e) -> CASE WHEN e.d < acc.d THEN e ELSE acc END).c"
        )
    return "array(" + ", ".join(codes) + ")"


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[int]]] | None = None,
    m_sub: int = 8,
    k_codes: int = 16,
) -> DataFrame:
    """Encode every vector as its PQ code array — ``(vec_id, label,
    codes)``, the persistable ingest-time index (m_sub small ints per
    row instead of d floats; at 100 TB this is the column you scan)."""
    if codebooks is None:
        codebooks = pq_codebooks(emb, m_sub=m_sub, k_codes=k_codes)
    return emb.select(
        "vec_id",
        "label",
        F.expr(_quantize("embedding")).alias("qv"),
    ).select(
        "vec_id", "label", F.expr(_pq_codes_expr(codebooks)).alias("codes")
    )


def pq_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    m_sub: int = 8,
    k_codes: int = 16,
    rerank: int = 50,
    codebooks: list[list[list[int]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ/ADC top-k (Jégou et al. 2011): rank ALL vectors by
    the asymmetric-distance approximation (sum of m_sub lookups into a
    per-query distance table), keep the ``rerank`` best, then order
    those by EXACT integer squared L2 — ``(vec_id, label, adc_dist,
    l2_exact)``, final order (l2_exact, vec_id), k rows.

    Scale shape: the ADC stage is one scan over the (persistable)
    code column with the LUT inlined as a literal — the final plan has
    NO corpus-side exchange, just two TakeOrdered reductions; the exact
    arithmetic runs only on the ``rerank``-bounded pool (its qv fetch
    is a column-pruned scan with the pool broadcast into it — a serving
    deployment would back that point lookup with a keyed store).  All
    arithmetic is exact integers (quantized grid), so the DuckDB oracle
    matches hash-exactly with no rounding.

    ``rerank`` is the recall dial (ADC ranks are approximate; the exact
    re-rank repairs ordering inside the pool).  ``codes`` accepts a
    persisted ``pq_encode`` result — the serving path; without it the
    encode runs inline (demo/oracle path), same contract as
    ``ivf_topk``'s ``assigned``."""
    if rerank < k:
        raise ValueError(f"rerank pool {rerank} smaller than k {k}")
    if codebooks is None:
        codebooks = pq_codebooks(emb, m_sub=m_sub, k_codes=k_codes)
    m_sub = len(codebooks)
    sub_len = len(codebooks[0][0])
    q_rows = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.expr(_quantize("embedding")).alias("qv"))
        .collect()
    )
    if not q_rows:
        raise ValueError(f"query_vec_id {query_vec_id} not in embeddings")
    q = list(q_rows[0]["qv"])
    # the m_sub × k_codes LUT: exact integer math over already-collected
    # bounded ints — computed driver-side in Python, inlined as a literal
    # (the same integers either engine would derive)
    lut = [
        [
            sum(
                (a - b) * (a - b)
                for a, b in zip(q[s * sub_len:(s + 1) * sub_len], cb_j)
            )
            for cb_j in codebooks[s]
        ]
        for s in range(m_sub)
    ]
    lut_lit = "array(" + ", ".join(_sql_bigint_array(r) for r in lut) + ")"
    adc = (
        f"aggregate(sequence(0, {m_sub - 1}), 0L, (acc, s) -> "
        f"acc + element_at(element_at({lut_lit}, s + 1), "
        f"element_at(codes, s + 1) + 1))"
    )
    if codes is None:
        base = emb.filter(F.col("vec_id") != query_vec_id).select(
            "vec_id", "label", F.expr(_quantize("embedding")).alias("qv")
        ).select(
            "vec_id", "label", "qv",
            F.expr(_pq_codes_expr(codebooks)).alias("codes"),
        )
    else:
        # serving path: scan the slim code column; qv joins back only
        # for the bounded re-rank pool below.  Guard the code width
        # against the LUT FIRST: a codes column built with a different
        # m_sub would make element_at return NULL past the end, every
        # adc_dist NULL, and NULLS-FIRST ordering would fill the pool
        # with arbitrary rows — silently, since nothing else errors
        head = codes.select(F.size("codes").alias("n")).head()
        if head is not None and head["n"] != m_sub:
            raise ValueError(
                f"codes column has {head['n']} subspaces but the "
                f"codebooks/LUT have {m_sub} — the persisted index was "
                f"encoded with a different m_sub"
            )
        base = codes.filter(F.col("vec_id") != query_vec_id)
    pool = (
        base.select("vec_id", "label", F.expr(adc).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(rerank)
    )
    qv_rel = emb.select(
        "vec_id", F.expr(_quantize("embedding")).alias("qv")
    )
    # LEFT join + raise_error: with a stale persisted index (codes rows
    # whose vec_id no longer exists in emb) an inner join would quietly
    # return fewer than k rows — fail loudly instead
    exact = (
        f"CASE WHEN qv IS NULL THEN CAST(raise_error('pq_topk: codes "
        f"index contains vec_ids missing from embeddings (stale "
        f"index?)') AS BIGINT) "
        f"ELSE {_l2sq_int('qv', _sql_bigint_array(q))} END"
    )
    return (
        pool.join(qv_rel, "vec_id", "left")
        .select(
            "vec_id", "label", "adc_dist", F.expr(exact).alias("l2_exact")
        )
        .orderBy("l2_exact", "vec_id")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composed two-level serving stack (probe cells → per-cell
# residual ADC → exact re-rank)
# ---------------------------------------------------------------------------


def ivfpq_codebooks(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    n_cells: int = 8,
    m_sub: int = 8,
    k_codes: int = 16,
) -> list[list[list[int]]]:
    """Seed-pinned RESIDUAL codebooks for IVF-PQ: ``codebooks[s][j]`` is
    the ``s``-th subvector of the residual (``qv − qc`` of the assigned
    cell) of seed vector ``vec_id = n_cells + j`` — integer arithmetic
    end to end, so the SQL oracle replicates the derivation verbatim
    (same demo-seeding contract as ``pq_codebooks``).

    Seeds start AT ``n_cells`` on purpose: under the default coarse
    quantizer the first ``n_cells`` vectors ARE the centroids, so their
    residuals are identically zero — seeding from them would fill the
    codebook with duplicate zero words.  ``kmeans_centroids``-trained
    quantizers use the same seed range for determinism.

    Bounded driver state: one ``k_codes``-row collect (the same class as
    the centroid collects).
    """
    if m_sub < 1 or k_codes < 1:
        raise ValueError(f"m_sub/k_codes must be >= 1, got {m_sub}/{k_codes}")
    if centroids is None:
        centroids = _default_centroids(emb, n_cells)
    seeds = emb.filter(
        (F.col("vec_id") >= n_cells)
        & (F.col("vec_id") < n_cells + k_codes)
    )
    rows = (
        ivf_assign(seeds, n_cells, centroids)
        .join(F.broadcast(centroids.select("cell_id", "qc")), "cell_id")
        .select(
            "vec_id",
            F.expr("zip_with(qv, qc, (x, y) -> x - y)").alias("rv"),
        )
        .orderBy("vec_id")
        .collect()
    )
    if len(rows) < k_codes:
        raise ValueError(
            f"need vec_id {n_cells}..{n_cells + k_codes - 1} as IVF-PQ "
            f"residual seeds, found {len(rows)}"
        )
    dim = len(rows[0]["rv"])
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub_len = dim // m_sub
    return [
        [list(r["rv"][s * sub_len:(s + 1) * sub_len]) for r in rows]
        for s in range(m_sub)
    ]


def ivfpq_encode(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    codebooks: list[list[list[int]]] | None = None,
    n_cells: int = 8,
    m_sub: int = 8,
    k_codes: int = 16,
) -> DataFrame:
    """The IVF-PQ ingest encode — ``(vec_id, label, cell_id, qv,
    codes)``: assign each vector to its coarse cell, PQ-encode the
    RESIDUAL against that cell's centroid.  Cell assignment is the only
    wide-ish step (and it is a broadcast cross of the tiny centroid
    table + a per-vec_id argmin); the residual and code projections are
    pure map-side expressions with the codebooks inlined as literals —
    the shape a 100 TB ingest encode must have."""
    if centroids is None:
        centroids = _default_centroids(emb, n_cells)
    if codebooks is None:
        codebooks = ivfpq_codebooks(
            emb, centroids, n_cells=n_cells, m_sub=m_sub, k_codes=k_codes
        )
    return (
        ivf_assign(emb, n_cells, centroids)
        .join(F.broadcast(centroids.select("cell_id", "qc")), "cell_id")
        .withColumn("rv", F.expr("zip_with(qv, qc, (x, y) -> x - y)"))
        .select(
            "vec_id",
            "label",
            "cell_id",
            "qv",
            F.expr(_pq_codes_expr(codebooks, "rv")).alias("codes"),
        )
    )


def _ivfpq_adc_case(
    probes: list[int],
    luts: dict[int, list[list[int]]],
) -> str:
    """The probed-cells ADC expression: per cell a literal
    ``m_sub × k_codes`` LUT folded with ``m_sub`` array lookups —
    one CASE branch per probed cell (n_probe branches, bounded)."""
    m_sub = len(next(iter(luts.values())))
    branches = []
    for cid in probes:
        lut_lit = (
            "array("
            + ", ".join(_sql_bigint_array(r) for r in luts[cid])
            + ")"
        )
        adc = (
            f"aggregate(sequence(0, {m_sub - 1}), 0L, (acc, s) -> "
            f"acc + element_at(element_at({lut_lit}, s + 1), "
            f"element_at(codes, s + 1) + 1))"
        )
        branches.append(f"WHEN cell_id = {int(cid)} THEN {adc}")
    return "CASE " + " ".join(branches) + " END"


def ivfpq_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    rerank: int = 50,
    centroids: DataFrame | None = None,
    codebooks: list[list[list[int]]] | None = None,
    coded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ top-k — the standard composed vector-serving architecture
    (Jégou et al. 2011 §IVFADC): probe the ``n_probe`` coarse cells
    nearest the query, ADC-score ONLY those cells' codes against
    per-cell residual LUTs, exact-integer re-rank the ``rerank``-best
    pool.  Output ``(vec_id, label, cell_id, adc_dist, l2_exact)``,
    final order (l2_exact, vec_id), k rows — every stage exact integer
    arithmetic, so the DuckDB oracle matches hash-exactly.

    Scale shape: candidate work is confined to the probed fraction of
    the corpus; the per-cell LUTs (``n_probe · m_sub · k_codes`` ints)
    and probe selection are bounded driver arithmetic over the collected
    centroid table, exactly like ``query_ivf_index``; the ADC stage
    reads the slim ``codes`` column only; the exact re-rank touches
    ``rerank`` rows.  Zero corpus-side shuffle.

    ``coded`` accepts a persisted ``ivfpq_encode`` result (the serving
    path — pass the SAME ``centroids`` and ``codebooks`` that produced
    it); without it the encode runs inline (demo/oracle path)."""
    if rerank < k:
        raise ValueError(f"rerank pool {rerank} smaller than k {k}")
    if coded is not None and (centroids is None or codebooks is None):
        raise ValueError(
            "ivfpq_topk: pass the same `centroids` and `codebooks` that "
            "produced `coded` (probe LUTs and stored codes must share "
            "one quantization)"
        )
    if centroids is None:
        centroids = _default_centroids(emb, n_cells)
    cent_rows = centroids.select("cell_id", "qc").collect()
    if not cent_rows:
        raise ValueError("empty centroid table")
    if codebooks is None:
        codebooks = ivfpq_codebooks(
            emb, centroids, n_cells=n_cells, m_sub=m_sub, k_codes=k_codes
        )
    m_sub = len(codebooks)
    sub_len = len(codebooks[0][0])
    if coded is not None:
        # same silent-NULL hazard as pq_topk: codes built with another
        # m_sub would NULL every adc_dist and fill the pool arbitrarily
        head = coded.select(F.size("codes").alias("n")).head()
        if head is not None and head["n"] != m_sub:
            raise ValueError(
                f"codes column has {head['n']} subspaces but the "
                f"codebooks/LUTs have {m_sub} — the persisted index was "
                f"encoded with a different m_sub"
            )
    q_rows = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.expr(_quantize("embedding")).alias("qv"))
        .collect()
    )
    if not q_rows:
        raise ValueError(f"query_vec_id {query_vec_id} not in embeddings")
    q = list(q_rows[0]["qv"])
    if len(q) != m_sub * sub_len:
        raise ValueError(
            f"query dim {len(q)} != codebook dim {m_sub * sub_len}"
        )
    # probe selection + per-cell residual LUTs: pure Python over the
    # bounded centroid list (same driver posture as query_ivf_index)
    cents = {int(r["cell_id"]): list(r["qc"]) for r in cent_rows}
    ranked = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qc, q)), cid)
        for cid, qc in cents.items()
    )
    probes = [cid for _, cid in ranked[: max(1, n_probe)]]
    luts = {}
    for cid in probes:
        rq = [a - b for a, b in zip(q, cents[cid])]
        luts[cid] = [
            [
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(
                        rq[s * sub_len:(s + 1) * sub_len], cb_j
                    )
                )
                for cb_j in codebooks[s]
            ]
            for s in range(m_sub)
        ]
    base = (
        coded
        if coded is not None
        else ivfpq_encode(emb, centroids, codebooks, n_cells=n_cells)
    )
    pool = (
        base.filter(
            F.col("cell_id").isin(probes)
            & (F.col("vec_id") != query_vec_id)
        )
        .select(
            "vec_id",
            "label",
            "cell_id",
            F.expr(_ivfpq_adc_case(probes, luts)).alias("adc_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(rerank)
    )
    qv_rel = emb.select(
        "vec_id", F.expr(_quantize("embedding")).alias("qv")
    )
    # LEFT join + raise_error: the same stale-index guard as pq_topk —
    # an inner join would quietly return fewer than k rows
    exact = (
        f"CASE WHEN qv IS NULL THEN CAST(raise_error('ivfpq_topk: codes "
        f"index contains vec_ids missing from embeddings (stale "
        f"index?)') AS BIGINT) "
        f"ELSE {_l2sq_int('qv', _sql_bigint_array(q))} END"
    )
    return (
        pool.join(qv_rel, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cell_id",
            "adc_dist",
            F.expr(exact).alias("l2_exact"),
        )
        .orderBy("l2_exact", "vec_id")
        .limit(k)
    )
