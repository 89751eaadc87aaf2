"""Keyed upsert into a Hive-partitioned parquet table — MERGE semantics
without a table format.

The fact store is plain partitioned parquet (io/sinks.py); late
corrections and re-polls need "update-or-insert by key" (reference
analogue: re-running a day's ingestion, ``etl-olho-vivo-ingestao-
posicoes.py`` just rewrites the day file).  The engine generalizes that
to per-key MERGE while touching only the partitions the updates hit:

1. collect the DISTINCT partition values present in ``updates`` — a
   tiny driver list (days, not rows);
2. read the existing table pruned to exactly those partitions
   (partition-pruning predicate — untouched history is never scanned);
3. latest-wins merge per key via one ``max_by`` aggregate (mergeable
   partial state, no window sort); ties on the version column prefer
   the incoming update;
4. dynamic partition overwrite of just the touched partitions.

Idempotent: re-running the same upsert yields a byte-identical table.
At 100 TB the cost is proportional to the touched partitions plus the
update batch, never the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str,
    partition_col: str,
) -> None:
    """MERGE ``updates`` into the partitioned parquet table at ``path``.

    ``keys`` identify a row; the row with the greatest ``version_col``
    wins (updates win ties).  ``partition_col`` must be the table's
    partition column and present in ``updates``.

    CONTRACT: ``partition_col`` must be stable per key (derived from the
    key, or immutable — e.g. an event's day).  An update that MOVES a
    key to a different partition would leave the key's old row behind:
    plain parquet has no delete vectors, and finding the old row would
    mean scanning every partition — exactly the cost this function
    exists to avoid.  Use a table format (Delta/Iceberg) if keys
    migrate across partitions.
    """
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    if not touched:
        return
    from etl_olho_vivo_spark.io.append_store import read_store

    cols = updates.columns
    # ONLY "no table yet" means first write: a missing path, or an empty
    # directory left by a died-before-commit first attempt (the rerun
    # must self-heal, not fail until someone deletes it).  Any other
    # analysis error surfaces — swallowing it would overwrite touched
    # partitions with the bare updates.
    existing_raw = read_store(spark, path)
    if existing_raw is not None:
        # schema drift must fail LOUDLY in both directions: extra update
        # columns break the select below, and a column the table has but
        # the updates lack would otherwise be silently erased from every
        # rewritten partition (even on rows the batch never touched).
        lost = set(existing_raw.columns) - set(cols)
        if lost:
            raise ValueError(
                f"updates are missing table column(s) {sorted(lost)}; "
                "merging would erase them from every rewritten partition"
            )
        # TYPE drift is as loud as column drift: unionByName's legacy
        # coercion would silently widen (bigint ∪ string → string) and
        # max_by would then rank versions lexicographically ('9' > '10')
        # while the overwrite writes a mixed-schema table
        table_types = dict(existing_raw.dtypes)
        upd_types = dict(updates.dtypes)
        drift = {
            c: (table_types[c], upd_types[c])
            for c in cols
            if c in table_types and table_types[c] != upd_types[c]
        }
        if drift:
            raise ValueError(
                f"update column type(s) drifted from the table: {drift}; "
                "coercing would corrupt version ranking and fork the "
                "table's physical schema"
            )
        # NULL-safe touched filter: isin() is three-valued (NULL never
        # matches anything, including a NULL in the list), so a NULL
        # partition value in the updates would EXCLUDE the existing
        # null-partition rows from the merge while dynamic overwrite
        # still rewrites that partition — silently deleting them.
        non_null = [t for t in touched if t is not None]
        cond = (
            F.col(partition_col).isin(non_null)
            if non_null
            else F.lit(False)
        )
        if len(non_null) != len(touched):
            cond = cond | F.col(partition_col).isNull()
        existing = (
            existing_raw.filter(cond)
            .select(*cols)
            .withColumn("__src", F.lit(0))
        )
        merged_in = existing.unionByName(
            updates.withColumn("__src", F.lit(1))
        )
    else:
        merged_in = updates.withColumn("__src", F.lit(1))
    payload = F.struct(*[F.col(c) for c in cols])
    rank = F.struct(F.col(version_col), F.col("__src"))
    merged = (
        merged_in.groupBy(*keys)
        .agg(F.max_by(payload, rank).alias("__row"))
        .select("__row.*")
    )
    # The merge reads the same path it overwrites: materialize the merged
    # rows (bounded by touched partitions + the update batch, never the
    # table) to cut the lineage before the overwrite.
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
