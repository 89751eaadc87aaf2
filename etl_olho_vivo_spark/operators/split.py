"""Deterministic train/val/test splits — leakage-proof at corpus scale.

Two published failure modes motivate this operator:

1. **Nondeterminism** — ``randomSplit`` re-rolls per task attempt and
   per partition layout, so a retried stage or a repartitioned input
   silently reassigns documents.  Here the split is a pure function of
   the row's key: ``md5(key ‖ seed)`` → bucket in [0, 10000) → first
   cumulative-weight band that contains it.  Same input, same split,
   on any cluster, any partitioning, any retry.
2. **Near-duplicate leakage** — splitting i.i.d. by document lets a
   near-duplicate of a validation document sit in train, inflating eval
   numbers exactly like benchmark contamination.  ``assign_splits``
   keyed on the near-dup *cluster* label (``by="component"`` after
   joining ``dedup.connected_components`` over MinHash/SimHash pairs)
   makes every member of a cluster co-travel into one split.

Scale shape: assignment itself is a map-side projection (one md5 per
row, no shuffle).  Keying on clusters adds one join of the corpus
against the component map, which is pairs-sized — orders of magnitude
smaller than the corpus — so Catalyst/AQE broadcasts it when it fits
and falls back to a hash-partitioned join when it does not.

The bucket space is integer (10 000 slots) with integer cumulative
thresholds, so band membership is exact — no float-boundary drift
between runs or engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.hashing import seeded_key_expr

_BUCKETS = 10_000


def _thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(split, exclusive upper bucket bound) bands, in dict order."""
    if not weights:
        raise ValueError("weights must name at least one split")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive, got {weights}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"weights must sum to 1, got {total}")
    bands, cum = [], 0.0
    for name, w in weights.items():
        cum += w
        bands.append((name, round(cum * _BUCKETS)))
    # guard float accumulation: the final band must cover the space
    bands[-1] = (bands[-1][0], _BUCKETS)
    # a weight below the bucket resolution (0.5/10000) rounds its band
    # to zero width — the split silently receives NO rows; refuse
    prev = 0
    for name, upper in bands:
        if upper <= prev:
            raise ValueError(
                f"split {name!r} (weight {weights[name]}) rounds to an "
                f"empty bucket band at 1/{_BUCKETS} resolution; use a "
                f"weight >= {1 / _BUCKETS}"
            )
        prev = upper
    return bands


def split_column(key_col: str, weights: dict[str, float], seed: int = 0) -> Column:
    """The split label as a pure Column expression over column ``key_col``.

    md5-based (functions/hashing.py) rather than xxhash64: stable across
    engine versions and oracle-expressible in any SQL engine with md5.
    The md5 is evaluated once per row: a chained when() over the bucket
    would otherwise re-inline it per band, so the bucket arithmetic is
    kept in one sub-expression Catalyst CSE's across the bands.
    """
    bucket = F.expr(seeded_key_expr(key_col, seed)) % _BUCKETS
    out = None
    for name, upper in _thresholds(weights):
        cond = bucket < F.lit(upper)
        out = (
            F.when(cond, F.lit(name))
            if out is None
            else out.when(cond, F.lit(name))
        )
    return out


def assign_splits(
    df: DataFrame,
    weights: dict[str, float],
    *,
    seed: int = 0,
    by: str = "doc_id",
    out: str = "split",
) -> DataFrame:
    """Append a deterministic split label keyed on column ``by``.

    Rows sharing a ``by`` value always share a split — pass a grouping
    column (near-dup component, source domain, author id) to make that
    group atomic across splits.
    """
    keyed = df.withColumn("__split_key__", F.col(by))
    labeled = keyed.withColumn(out, split_column("__split_key__", weights, seed))
    return labeled.drop("__split_key__")


def cap_per_group(
    df: DataFrame,
    group: str,
    n: int,
    *,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``n`` rows per ``group`` value — the C4/Gopher
    "cap documents per domain" rule that stops one crawl host from
    dominating a training mix.

    Which ``n`` survive is a deterministic seeded choice, not "first
    n by ingest order": rows rank by ``md5(id ‖ seed)`` within the
    group, so the sample is unbiased w.r.t. crawl order, identical
    across retries/partitionings, and re-drawable with a new seed.

    One hash shuffle on ``group``; rank is ``row_number`` over the
    group window.  Skew note: a pathologically hot group (half the
    corpus one domain) serializes its window sort into one task —
    pre-filter such groups (``df.stat.freqItems`` finds them in one
    pass) or raise their cap separately if that's a real shape in your
    data.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.sql import Window

    # domain-separated seed ("cap-<seed>"): the rank keeps the N LOWEST
    # keys, a magnitude-based selection that must stay independent of
    # the mixture's Bernoulli threshold and the shuffle's within-shard
    # order (see functions/hashing.seeded_key_expr)
    rank = F.row_number().over(
        Window.partitionBy(group).orderBy(
            F.expr(seeded_key_expr(id_col, f"cap-{seed}")), F.col(id_col)
        )
    )
    return (
        df.withColumn("__rank__", rank)
        .filter(F.col("__rank__") <= n)
        .drop("__rank__")
    )
