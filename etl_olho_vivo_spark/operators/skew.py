"""Skew-resistant aggregation: salted two-phase groupBy.

A groupBy on a low-cardinality or Zipf-heavy key hashes entire hot keys
onto single reducers — the classic 100 TB failure mode.  Salting splits
each key into ``n_salts`` sub-keys for a uniform first-phase partial
aggregate, then recombines in a second (tiny) exchange:

    groupBy(key, salt) partial-agg  →  groupBy(key) final-agg

AQE's skew-join splitting covers *joins*; aggregation skew still needs
this manual shape when a single group's partial state is too big (e.g.
count-distinct sketches per hot key).  For algebraic aggregates
(sum/count/min/max) the rewrite is exact — the decomposition is the same
partial/final split Spark itself performs, one level deeper.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant shuffle join: salt the big side, replicate the small.

    A sort-merge/shuffle-hash join on a Zipf-heavy key sends every row of a
    hot key to one reducer.  Salting appends a deterministic ``__salt`` ∈
    [0, n_salts) to the big side's key and cross-replicates the small side
    over all salts, so each hot key spreads across ``n_salts`` reducers.
    Exact for inner/left-flavored joins (each big row joins exactly its own
    salt; the replicated small rows differ only in ``__salt``).  NOT valid
    for right/full outer joins: an unmatched small-side row would surface
    once per salt (n_salts duplicates), so those types are rejected.  Use
    when the small side is too big to broadcast but far smaller than the
    big side; with broadcastable dims prefer ``F.broadcast``, and note
    AQE's skew-join splitting handles moderate skew without rewrites —
    this is for the pathological tail.
    """
    if salt_source is None:
        raise ValueError("salt_source column is required (deterministic salt)")
    exact_types = {"inner", "left", "leftouter", "left_outer",
                   "left_semi", "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in exact_types:
        raise ValueError(
            f"salted_join is only exact for {sorted(exact_types)} joins; "
            f"got how={how!r} (unmatched replicated small-side rows would "
            "duplicate once per salt)"
        )
    salted_big = big.withColumn(
        "__salt", (F.abs(F.hash(F.col(salt_source))) % n_salts)
    )
    replicated = small.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    )
    # shuffle_merge hint: keep this a real exchange-based join in the demo
    # (a broadcastable `small` would otherwise make salting decorative).
    return salted_big.join(
        replicated.hint("shuffle_merge"), [*on, "__salt"], how
    ).drop("__salt")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, Column]],
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` maps output name → (recombine_fn, partial_expr) where
    ``recombine_fn`` ∈ {"sum", "min", "max"}: e.g. a global count is
    ``{"n": ("sum", F.count(F.lit(1)))}``.  ``salt_source`` names a
    (high-cardinality) column to derive the salt from deterministically;
    required so results stay reproducible — never ``rand()``, whose
    per-task reseeding breaks retry idempotency at scale.
    """
    if salt_source is None:
        raise ValueError("salt_source column is required (deterministic salt)")
    salted = df.withColumn(
        "__salt", (F.abs(F.hash(F.col(salt_source))) % n_salts)
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(f"__p_{name}") for name, (_, expr) in aggs.items()]
    )
    recombine = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
    }
    return partial.groupBy(*keys).agg(
        *[
            recombine[fn](f"__p_{name}").alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )
