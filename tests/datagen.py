"""Shared scale-probe data generation.

The replica machinery lives in the package (etl_olho_vivo_spark/
replicate.py) since bench.py's scale tier uses it too; this module
re-exports it for the test suite and adds the TPC-H fact-trio replica
only the memory probe uses.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_olho_vivo_spark.replicate import (  # noqa: F401
    OFF,
    _check_ids_below_off,
    _rep_col,
    replicate_documents,
    replicate_embeddings,
    replicate_events,
)


def replicate_tpch_facts(
    spark: SparkSession, src_dir: str, out_dir: str, replicas: int
) -> None:
    """``replicas``× copies of the orders/lineitem/customer fact trio
    with consistently perturbed join keys (orderkey/custkey shift
    together, so per-order and per-customer join fan-outs are preserved
    at every replica), plus verbatim copies of the remaining tables —
    the input for fact-join scale/memory probes.
    """
    import shutil

    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    pin_parquet_instant_confs(spark)
    rep = _rep_col(replicas)

    o = spark.read.parquet(f"{src_dir}/orders.parquet")
    _check_ids_below_off(o, "o_orderkey", "o_custkey")
    o.select("*", rep).select(
        (F.col("o_orderkey") + F.col("rep") * F.lit(OFF)).alias("o_orderkey"),
        (F.col("o_custkey") + F.col("rep") * F.lit(OFF)).alias("o_custkey"),
        *[c for c in o.columns if c not in ("o_orderkey", "o_custkey")],
    ).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    li = spark.read.parquet(f"{src_dir}/lineitem.parquet")
    _check_ids_below_off(li, "l_orderkey")
    li.select("*", rep).select(
        (F.col("l_orderkey") + F.col("rep") * F.lit(OFF)).alias("l_orderkey"),
        *[c for c in li.columns if c != "l_orderkey"],
    ).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    cu = spark.read.parquet(f"{src_dir}/customer.parquet")
    _check_ids_below_off(cu, "c_custkey")
    cu.select("*", rep).select(
        (F.col("c_custkey") + F.col("rep") * F.lit(OFF)).alias("c_custkey"),
        *[c for c in cu.columns if c != "c_custkey"],
    ).write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    for t in (
        "nation", "region", "part", "supplier",
        "events", "documents", "embeddings",
    ):
        shutil.copy(f"{src_dir}/{t}.parquet", f"{out_dir}/{t}.parquet")
