"""Scalar-function conformance (SURVEY §5.2.3):

- haversine Column expression vs an independent ``math`` implementation of
  the reference formula (etl-olho-vivo-velocidades-medias.py:34-58) to
  1e-9 relative;
- 30-min interval labels byte-equal to the reference's
  ``get_30min_interval`` (``:26-31``, ``utcfromtimestamp`` + strftime)
  across day boundaries, midnight wrap, and year end.
"""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.geo import haversine_m
from etl_olho_vivo_spark.functions.timeops import (
    interval_30min_date,
    interval_30min_label,
)


def _ref_haversine(lat1, lon1, lat2, lon2):
    """Independent reimplementation of the reference formula (:34-58)."""
    lat1, lon1, lat2, lon2 = map(math.radians, (lat1, lon1, lat2, lon2))
    dlat, dlon = lat2 - lat1, lon2 - lon1
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(lat1) * math.cos(lat2) * math.sin(dlon / 2) ** 2
    )
    return 6371000.0 * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def _ref_interval(ts):
    """Independent reimplementation of get_30min_interval (:26-31)."""
    t = dt.datetime.fromtimestamp(ts, dt.timezone.utc)
    start = t.replace(minute=(t.minute // 30) * 30, second=0, microsecond=0)
    end = start + dt.timedelta(minutes=30)
    return (
        f"{start.strftime('%H:%M')}-{end.strftime('%H:%M')}",
        start.strftime("%Y-%m-%d"),
    )


def test_haversine_conformance(spark):
    pts = [
        # (lat1, lon1, lat2, lon2): same point, SP city pairs, antimeridian,
        # poles, equator long hop
        (-23.5505, -46.6333, -23.5505, -46.6333),
        (-23.5505, -46.6333, -23.5489, -46.6388),
        (-23.6787125, -46.65674, -23.679, -46.657),
        (0.0, 179.99, 0.0, -179.99),
        (89.9, 0.0, 89.9, 180.0),
        (0.0, 0.0, 0.0, 90.0),
        (-33.0, -70.0, 55.0, 37.0),
    ]
    df = spark.createDataFrame(pts, ["lat1", "lon1", "lat2", "lon2"])
    got = df.select(
        haversine_m(
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
        ).alias("d")
    ).collect()
    for (lat1, lon1, lat2, lon2), r in zip(pts, got):
        want = _ref_haversine(lat1, lon1, lat2, lon2)
        assert math.isclose(r["d"], want, rel_tol=1e-9, abs_tol=1e-6), (
            (lat1, lon1, lat2, lon2, r["d"], want)
        )


def test_haversine_null_propagates(spark):
    df = spark.createDataFrame(
        [(None, -46.0, -23.0, -46.1)], "lat1 double, lon1 double, lat2 double, lon2 double"
    )
    assert (
        df.select(
            haversine_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d")
        ).collect()[0]["d"]
        is None
    )


def test_interval_labels_byte_parity(spark):
    stamps = [
        0,                    # epoch midnight
        1715351425,           # mid-bucket afternoon
        1715351400,           # exact bucket start 14:30:00
        1715353199,           # last second of a bucket (14:59:59)
        1715385599,           # 23:59:59 → "23:30-00:00" wrap
        1704067199,           # 2023-12-31 23:59:59
        1709251199,           # leap-day end
    ]
    df = spark.createDataFrame([(s,) for s in stamps], ["ts"])
    got = df.select(
        "ts",
        interval_30min_label(F.col("ts")).alias("label"),
        interval_30min_date(F.col("ts")).alias("d"),
    ).collect()
    for r in got:
        want_label, want_date = _ref_interval(r["ts"])
        assert r["label"] == want_label, (r["ts"], r["label"], want_label)
        assert r["d"] == want_date, (r["ts"], r["d"], want_date)
    # midnight wrap spot-check
    wrap = [r for r in got if r["ts"] == 1715385599][0]
    assert wrap["label"] == "23:30-00:00"


# ---------------------------------------------------------------------------
# single-pass table profiling
# ---------------------------------------------------------------------------


def test_profile_table_single_pass(spark):
    from etl_olho_vivo_spark.functions.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, "a", 1.5, [1, 2]),
            (2, "b", None, [3]),
            (3, None, 2.5, None),
            (4, "b", 3.5, [1]),
        ],
        ["id", "s", "x", "arr"],
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "s", "x", "arr"}
    assert all(r["n_rows"] == 4 for r in prof.values())
    assert prof["id"]["n_nulls"] == 0 and prof["id"]["approx_distinct"] == 4
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["approx_distinct"] == 2
    assert prof["s"]["min_str"] == "a" and prof["s"]["max_str"] == "b"
    assert prof["x"]["min_str"] == "1.5" and prof["x"]["max_str"] == "3.5"
    # complex type: accounted, but no total order → null min/max
    assert prof["arr"]["n_nulls"] == 1
    assert prof["arr"]["min_str"] is None
    from tests.plan_walk import count_nodes, executed_plan

    # ONE job, one scan: the profile plan reads the source exactly once
    assert count_nodes(executed_plan(profile_table(df)))["RDDScanExec"] <= 1


def test_profile_table_on_driver_table(spark):
    from etl_olho_vivo_spark.functions.profile import profile_table
    from etl_olho_vivo_spark.sources.tables import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    prof = {r["column"]: r for r in profile_table(d).collect()}
    n = d.count()
    assert prof["doc_id"]["n_rows"] == n
    assert prof["doc_id"]["n_nulls"] == 0
    # HLL at rsd=0.05 lands within 15% of exact on doc_id
    assert abs(prof["doc_id"]["approx_distinct"] - n) <= 0.15 * n


def test_approx_percentile_tracks_exact(spark):
    """The documented scale path for quantity_quantiles: t-digest
    approx_percentile must track the exact per-group percentile within
    the sketch's rank-error bound on the driver table."""
    from etl_olho_vivo_spark.sources.tables import read_table

    li = read_table(spark, "/root/testdata/sf0.01", "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("exact"),
            F.expr("approx_percentile(l_quantity, 0.5, 1000)").alias("approx"),
            F.max("l_quantity").alias("hi"),
            F.min("l_quantity").alias("lo"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        # rank error 1/1000 over a bounded domain → value error well
        # within 5% of the group's range
        assert abs(r["approx"] - r["exact"]) <= 0.05 * (r["hi"] - r["lo"]), r


def test_profile_table_dotted_and_duplicate_columns(spark):
    from etl_olho_vivo_spark.functions.profile import profile_table

    dotted = spark.createDataFrame([(1, "x")], ["id", "a.b"])
    prof = {r["column"]: r for r in profile_table(dotted).collect()}
    assert prof["a.b"]["n_nulls"] == 0 and prof["a.b"]["min_str"] == "x"

    dup = spark.createDataFrame([(1, 2)], ["k", "k"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate"):
        profile_table(dup)
