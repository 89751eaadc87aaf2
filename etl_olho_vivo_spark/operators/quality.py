"""Trained quality classifier — the fastText-style linear filter
(Joulin et al. 2016) that GPT-3/LLaMA/DCLM/FineWeb-Edu pipelines use to
keep "reference-like" documents (Brown et al. 2020 §A; Penedo et al.
2024): a logistic model over hashed bag-of-n-gram features, trained on
a small labeled set (positives = trusted corpus, negatives = raw crawl)
and then applied to the full corpus as a pure broadcast-join filter.

This completes the quality-filtering menu beside the heuristic gates
(Gopher/C4, operators/textops.py), the LM perplexity gate
(operators/lm.py), and DSIR distributional selection
(operators/dsir.py) — the four standard approaches, all sharing the
absolute-threshold determinism discipline.

Features reuse DSIR's hashed unigram+bigram bucket sketch
(operators/dsir.py ``hashed_features`` — md5-derived bucket ids,
engine-neutral), L1-normalized per document (count / n_feats, the
fastText "average of bucket embeddings" with a 1-dim embedding).

Scale shape (what survives 100 TB):

- **Training is over a BOUNDED labeled set** (the real pipelines train
  on 10⁵-10⁶ labeled docs, not the corpus): full-batch logistic
  regression, one persisted feature frame, ``iters`` driver-looped
  gradient steps.  Each step collects exactly ``n_buckets + 1`` doubles
  (the gradient) — bounded driver state by construction, like the
  k-means centroid loop in operators/similarity.py.  The per-doc
  margin join is hint("merge")-pinned: features and residuals are the
  two SYMMETRIC training-set-scaled relations (round-7 AQE-broadcast
  lesson).
- **Scoring is the corpus-scale path**: the model is ``n_buckets``
  weights — a broadcast join against the slim (doc, bucket, cnt)
  feature frame, one skew-free doc-id aggregation, zero corpus
  shuffles beyond it.  Exactly the DSIR scoring plan with learned
  instead of count-ratio weights.
- Determinism: bucket ids are exact integers (md5 arithmetic); the
  gradient is rounded ``round_dp`` (6) each step BEFORE the driver
  update, so the trained weights are stable across partitionings and
  libm builds (same discipline as dsir.py's rounded log-weights); the
  emitted score is rounded ``round_dp``.
- Docs with zero features (NULL text; empty strings still tokenize to
  one empty token under the engine-wide split-on-space convention) are
  absent from the scored output — no evidence, same contract as
  dsir_log_weights; the corpus gate passes them through via its
  anti-join-on-failing shape.

Relation to the reference (JonasMarma/etl-olho-vivo): none — part of
the beyond-reference training-data tier (SURVEY §2.11).
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators.dsir import hashed_features

if TYPE_CHECKING:
    from etl_olho_vivo_spark.caching import CacheBag

# fastText's default bucket count is 2M for word n-grams; a quality
# classifier over 2-gram sketches saturates far earlier and 4096 keeps
# the model broadcast-trivial (32 KiB of doubles).
N_BUCKETS = 4096
MAX_BUCKETS = 1 << 20  # model must stay broadcast-able + collect-able


def _bucket_counts(
    docs: DataFrame, *, id_col: str, text: str, n_buckets: int
) -> DataFrame:
    """(id, bucket, cnt) — integer feature-occurrence counts per doc
    (one slim aggregate over the map-side feature explode; rows ≤
    min(2·tokens, n_buckets) per doc).  The L1 normalization (x =
    cnt / Σcnt) happens inside the downstream aggregations so no
    per-doc-total window/join is ever needed."""
    return (
        hashed_features(docs, id_col=id_col, text=text, n_buckets=n_buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_quality_classifier(
    pos_docs: DataFrame,
    neg_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    n_buckets: int = N_BUCKETS,
    iters: int = 40,
    lr: float = 1.0,
    l2: float = 1e-4,
    round_dp: int = 6,
    sample_frac: float | None = None,
    balance_classes: bool = False,
    seed: int = 0,
    caches: "CacheBag | None" = None,
) -> dict:
    """Logistic regression on the labeled pair of corpora →
    a JSON-serializable model dict ``{"n_buckets", "bias", "weights"
    (dense list), "iters", "lr", "l2", "n_pos", "n_neg"}``.

    Each iteration is ONE Spark job: margin = bias + Σ w[b]·x (weights
    broadcast), residual = σ(margin) − y, gradient g[b] = Σ resid·x / n
    (+ l2·w) collected as ≤ n_buckets rows and applied driver-side.
    The gradient is rounded ``round_dp`` per step for cross-partitioning
    determinism.  Raises on empty/feature-less inputs — a silently
    degenerate model would pass everything downstream.

    **Minibatch (round 11)**: ``sample_frac`` < 1 switches to
    sampled-gradient descent — each iteration computes its gradient
    over a deterministic md5-Bernoulli sample of the labeled docs
    (key ``qgrad-<seed>-<iter>``, the engine-wide seeded_key_expr
    discipline: same seed ⇒ same per-iteration batches under ANY
    partitioning).  This is the scale path once labels come from an
    LLM judge at millions of rows: per-iteration cost ∝ sample, never
    the full labeled set, while the bounded-driver-state contract
    (≤ n_buckets + 2 doubles per step) is unchanged.  The sampled
    gradient normalizes by the ACTUAL batch size (collected as a
    sentinel row in the same job); an empty batch is a no-op step, and
    training fails loudly if every batch sampled empty.

    **Class-balanced importance sampling (round 12)**: with
    ``balance_classes=True`` (requires ``sample_frac``), each class is
    sampled at its OWN rate so the expected batch splits ~50/50 —
    ``rate_c = min(1, sample_frac·n / (2·n_c))`` — and every sampled
    document's gradient contribution is weighted by the inverse rate
    (Horvitz-Thompson), with the step self-normalized by Σ(1/rate)
    over the batch.  This is the variance fix for the realistic
    LLM-judged regime where positives are rare: uniform Bernoulli
    spends almost the whole batch on the majority class and the
    minority class's gradient term is estimated from a handful of
    rows; balancing gives both classes equal sampling support while
    the inverse-rate weights keep the estimator aligned with the
    full-batch gradient (a class whose rate saturates at 1 — the rare
    class, typically — contributes its exact full-batch term at
    weight 1).  Same md5 determinism: batches and therefore the
    trained model are identical under any partitioning.
    """
    from etl_olho_vivo_spark.caching import SESSION_BAG

    if not 1 <= n_buckets <= MAX_BUCKETS:
        raise ValueError(
            f"n_buckets must be in [1, {MAX_BUCKETS}], got {n_buckets}"
        )
    if iters < 1 or lr <= 0 or l2 < 0:
        raise ValueError(
            f"need iters >= 1, lr > 0, l2 >= 0; got {iters}/{lr}/{l2}"
        )
    if sample_frac is not None and not 0.0 < sample_frac <= 1.0:
        raise ValueError(
            f"sample_frac must be in (0, 1], got {sample_frac}"
        )
    if balance_classes and (sample_frac is None or sample_frac >= 1.0):
        raise ValueError(
            "balance_classes requires sample_frac < 1 — it is a "
            "property of the sampled-gradient path"
        )
    bag = caches if caches is not None else SESSION_BAG
    spark = pos_docs.sparkSession

    # one feature frame for both classes: a (label, id) struct key keeps
    # the classes disjoint without assuming anything about id ranges
    labeled = bag.add(
        _bucket_counts(
            pos_docs.select(id_col, text), id_col=id_col, text=text,
            n_buckets=n_buckets,
        )
        .withColumn("y", F.lit(1.0))
        .unionByName(
            _bucket_counts(
                neg_docs.select(id_col, text), id_col=id_col, text=text,
                n_buckets=n_buckets,
            ).withColumn("y", F.lit(0.0))
        )
        .select(
            F.struct(F.col("y").alias("lbl"), F.col(id_col).alias("id"))
            .alias("k"),
            "bucket",
            "cnt",
            "y",
        )
    )
    per_class = {
        r["lbl"]: r["count"]
        for r in labeled.select("k")
        .distinct()
        .groupBy("k.lbl")
        .count()
        .collect()
    }
    n_pos = int(per_class.get(1.0, 0))
    n_neg = int(per_class.get(0.0, 0))
    if n_pos == 0 or n_neg == 0:
        raise ValueError(
            "quality classifier needs BOTH classes with >= 1 featured "
            f"document (got pos={n_pos}, neg={n_neg}) — empty texts "
            "carry no features; fix the labeled inputs"
        )
    n = float(n_pos + n_neg)

    from etl_olho_vivo_spark.functions.hashing import seeded_key_expr

    sampling = sample_frac is not None and sample_frac < 1.0
    thr_expr = iw_expr = None
    if sampling and balance_classes:
        # per-class Bernoulli rates targeting a ~50/50 batch of the
        # same expected size; inverse-rate (Horvitz-Thompson) weights
        # keep the self-normalized gradient aligned with full-batch
        rate_pos = min(1.0, sample_frac * n / (2 * n_pos))
        rate_neg = min(1.0, sample_frac * n / (2 * n_neg))
        thr_expr = F.when(
            F.col("k.lbl") == 1.0, F.lit(int(rate_pos * (1 << 32)))
        ).otherwise(F.lit(int(rate_neg * (1 << 32))))
        iw_expr = F.when(
            F.col("k.lbl") == 1.0, F.lit(1.0 / rate_pos)
        ).otherwise(F.lit(1.0 / rate_neg))
    elif sampling:
        thr_expr = F.lit(int(sample_frac * (1 << 32)))
        iw_expr = F.lit(1.0)
    weights = [0.0] * n_buckets
    bias = 0.0
    updates = 0
    for it in range(iters):
        w_rel = spark.createDataFrame(
            [(b, w) for b, w in enumerate(weights) if w != 0.0]
            or [(0, 0.0)],
            "bucket bigint, w double",
        )
        if sampling:
            # deterministic per-iteration Bernoulli batch: the doc key
            # (label:id) hashed under the iteration-salted seed — same
            # batches under any partitioning, oracle-expressible
            key = F.expr(seeded_key_expr(
                "concat(CAST(k.lbl AS STRING), ':', "
                "CAST(k.id AS STRING))",
                f"qgrad-{seed}-{it}",
            ))
            batch = labeled.filter(key < thr_expr)
        else:
            batch = labeled
        # per-doc margin from raw counts: Σ cnt·w / Σ cnt (the L1
        # normalization folded into the aggregate — no per-doc-total
        # window), residual σ(m) − y, doc total carried for the
        # gradient's cnt/tot normalization
        margins = (
            batch.join(F.broadcast(w_rel), "bucket", "left")
            .groupBy("k")
            .agg(
                F.first("y").alias("y"),
                F.sum("cnt").alias("tot"),
                (
                    F.sum(F.col("cnt") * F.coalesce(F.col("w"), F.lit(0.0)))
                    / F.sum("cnt")
                    + F.lit(bias)
                ).alias("m"),
            )
            .select(
                "k",
                "tot",
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m")))
                    - F.col("y")
                ).alias("resid"),
                (iw_expr if iw_expr is not None else F.lit(1.0))
                .alias("iw"),
            )
        )
        # gradient: symmetric labeled-set-scaled join → merge-pinned
        # (round-7 AQE-broadcast lesson); the bias gradient rides along
        # as sentinel bucket −1 (and, when sampling, the batch size as
        # sentinel −2), so each iteration is ONE job collecting
        # ≤ n_buckets + 2 rounded doubles (AQE reuses the margins
        # exchange between the branches)
        if sampling:
            # raw rounded sums; the /n_t normalization happens driver-
            # side against the batch size collected in the same job
            per_bucket = (
                batch.join(margins.hint("merge"), "k")
                .groupBy("bucket")
                .agg(
                    F.round(
                        F.sum(
                            F.col("resid") * F.col("cnt") / F.col("tot")
                            * F.col("iw")
                        ),
                        round_dp,
                    ).alias("g")
                )
            )
            extras = margins.agg(
                F.round(
                    F.sum(F.col("resid") * F.col("iw")), round_dp
                ).alias("gb"),
                # self-normalizer: Σ iw over the batch (= the exact
                # row count when uniform, iw ≡ 1)
                F.round(F.sum("iw"), round_dp).alias("nt"),
            ).select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(-1).cast("bigint").alias("bucket"),
                            F.col("gb").alias("g"),
                        ),
                        F.struct(
                            F.lit(-2).cast("bigint").alias("bucket"),
                            F.col("nt").alias("g"),
                        ),
                    )
                ).alias("x")
            ).select("x.bucket", "x.g")
            grad_rows = per_bucket.unionByName(extras).collect()
            n_t = next(
                (r["g"] for r in grad_rows if r["bucket"] == -2), 0.0
            )
            if not n_t:
                continue  # empty batch: a no-op step, deterministically
            updates += 1
            for r in grad_rows:
                b = r["bucket"]
                if b == -2:
                    continue
                g = round(r["g"] / n_t, round_dp)
                if b < 0:
                    bias -= lr * g
                else:
                    weights[b] -= lr * (g + l2 * weights[b])
        else:
            grad_rows = (
                labeled.join(margins.hint("merge"), "k")
                .groupBy("bucket")
                .agg(
                    F.round(
                        F.sum(F.col("resid") * F.col("cnt") / F.col("tot"))
                        / n,
                        round_dp,
                    ).alias("g")
                )
                .unionByName(
                    margins.agg(
                        F.round(F.sum("resid") / n, round_dp).alias("g")
                    ).select(F.lit(-1).cast("bigint").alias("bucket"), "g")
                )
                .collect()
            )
            updates += 1
            for r in grad_rows:
                b = r["bucket"]
                if b < 0:
                    bias -= lr * r["g"]
                else:
                    weights[b] -= lr * (r["g"] + l2 * weights[b])
        weights = [round(w, round_dp + 3) for w in weights]
        bias = round(bias, round_dp + 3)
    if not updates:
        raise ValueError(
            f"every one of the {iters} sampled batches was empty "
            f"(sample_frac={sample_frac}, {int(n)} labeled docs) — "
            f"raise sample_frac or the labeled set size"
        )

    model = {
        "n_buckets": n_buckets,
        "bias": bias,
        "weights": weights,
        "iters": iters,
        "lr": lr,
        "l2": l2,
        "n_pos": n_pos,
        "n_neg": n_neg,
    }
    if sampling:
        model["sample_frac"] = sample_frac
        model["seed"] = seed
        if balance_classes:
            model["balance_classes"] = True
    return model


def save_model(model: dict, path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(model, f)
    os.replace(tmp, path)


def load_model(path: str) -> dict:
    with open(path) as f:
        model = json.load(f)
    for key in ("n_buckets", "bias", "weights"):
        if key not in model:
            raise ValueError(f"quality model {path!r} missing {key!r}")
    if len(model["weights"]) != model["n_buckets"]:
        raise ValueError(
            f"quality model {path!r}: {len(model['weights'])} weights "
            f"for n_buckets={model['n_buckets']}"
        )
    return model


def score_quality(
    docs: DataFrame,
    model: dict,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """(id, n_feats, q_score) with q_score = σ(bias + Σ w[b]·x_b)
    rounded ``round_dp`` — the corpus-scale serving path: the model is a
    broadcast ≤ n_buckets-row relation, the corpus crosses exactly one
    skew-free doc-id exchange (the margin aggregation).  Zero-feature
    docs are absent (module docstring)."""
    n_buckets = model["n_buckets"]
    spark = docs.sparkSession
    w_rel = spark.createDataFrame(
        [(b, w) for b, w in enumerate(model["weights"]) if w != 0.0]
        or [(0, 0.0)],
        "bucket bigint, w double",
    )
    feats = hashed_features(
        docs, id_col=id_col, text=text, n_buckets=n_buckets
    )
    # margin = Σ_b cnt_b·w_b / Σ_b cnt_b = mean of per-OCCURRENCE
    # weights, so no per-(doc, bucket) pre-aggregation is needed: the
    # broadcast join lands map-side on the feature explode and the
    # corpus crosses exactly ONE exchange (the per-doc mean)
    sig = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(float(model["bias"]))
                + F.avg(F.coalesce(F.col("w"), F.lit(0.0)))
            )
        )
    )
    return (
        feats.join(F.broadcast(w_rel), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.round(sig, round_dp).alias("q_score"),
        )
    )
