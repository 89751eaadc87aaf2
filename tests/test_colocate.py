"""Geo co-location pairs (operators/colocate.py): the 2D grid-bucketed
radius self-join — exactly-once across cell boundaries vs a brute
force, threshold/bucket/ordering semantics, validation, and the
no-dedup-exchange plan shape.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators.colocate import (
    M_PER_DEG_LAT,
    MIN_COS_LAT,
    colocation_pairs,
)

SCHEMA = (
    "prefixo_veiculo long, py double, px double, timestamp long"
)


def _hav(lat1, lon1, lat2, lon2):
    r = math.radians
    a = (
        math.sin((r(lat2) - r(lat1)) / 2) ** 2
        + math.cos(r(lat1)) * math.cos(r(lat2))
        * math.sin((r(lon2) - r(lon1)) / 2) ** 2
    )
    return 6371000.0 * (2 * math.atan2(math.sqrt(a), math.sqrt(1 - a)))


def _brute(rows, radius_m, bucket_s=1800):
    out = {}
    for i, (ka, la, lo, ts) in enumerate(rows):
        for kb, lb, lo2, ts2 in rows[i + 1:]:
            if ka == kb or (ts // bucket_s) != (ts2 // bucket_s):
                continue
            a, b = sorted((ka, kb))
            d = round(_hav(la, lo, lb, lo2), 2)
            if d > radius_m:
                continue
            key = ((ts // bucket_s) * bucket_s, a, b)
            n, m = out.get(key, (0, float("inf")))
            out[key] = (n + 1, min(m, d))
    return out


def test_exactly_once_across_cell_boundaries_vs_brute_force(spark):
    """A lattice straddling cell boundaries (points spaced ~0.6 cells
    apart around the grid origin, positive AND negative coordinates so
    floor's negative behavior is exercised): every qualifying pair is
    reported exactly once — n_close and min_dist match a Python brute
    force over all pairs, which is blind to the grid entirely."""
    radius = 500.0
    d_lat = radius / M_PER_DEG_LAT
    rows = []
    k = 0
    for i in range(-3, 4):
        for j in range(-3, 4):
            rows.append((
                k,
                -23.55 + i * 0.6 * d_lat,
                -46.62 + j * 0.6 * d_lat / MIN_COS_LAT,
                100_000 + (k % 2) * 7,   # two pings per bucket for some
            ))
            k += 1
    got = {
        (r["bucket"], r["vehicle_a"], r["vehicle_b"]):
            (r["n_close"], r["min_dist_m"])
        for r in colocation_pairs(
            spark.createDataFrame(rows, SCHEMA), radius
        ).collect()
    }
    want = _brute(rows, radius)
    assert got == want and len(want) > 20, len(want)


def test_threshold_bucket_and_ordering_semantics(spark):
    """The rounded-distance boundary is inclusive, cross-bucket pings
    never pair, the pair is (min, max)-ordered, and a vehicle never
    pairs with itself even from two different pings."""
    lat = -23.55
    # ~500 m east at this latitude
    dlon_500 = 500.0 / (M_PER_DEG_LAT * math.cos(math.radians(lat)))
    rows = [
        (9, lat, -46.62, 1800 * 100),                    # anchor
        (2, lat, -46.62 + dlon_500 * 0.999, 1800 * 100),  # just inside
        (3, lat, -46.62 + dlon_500 * 1.01, 1800 * 100),   # just outside
        (4, lat, -46.62, 1800 * 101),                     # next bucket
        (9, lat + 1e-5, -46.62, 1800 * 100),              # self, 2nd ping
    ]
    got = sorted(
        (r["vehicle_a"], r["vehicle_b"], r["n_close"])
        for r in colocation_pairs(
            spark.createDataFrame(rows, SCHEMA), 500.0
        ).collect()
    )
    # (2,9) inside (~499.5 m, both of 9's pings); (3,9) outside
    # (~505 m); (2,3) inside trivially (~5.6 m apart); 4 in another
    # bucket never pairs; the self pair of 9's two pings is absent.
    assert got == [(2, 3, 1), (2, 9, 2)]
    with pytest.raises(ValueError, match="radius_m"):
        colocation_pairs(spark.createDataFrame(rows, SCHEMA), 0)
    with pytest.raises(ValueError, match="bucket_s"):
        colocation_pairs(
            spark.createDataFrame(rows, SCHEMA), 500.0, bucket_s=0
        )


def test_plan_merge_join_no_dedup_exchange(spark):
    """Plan pins: the grid join is a merge join (corpus-scaled sides
    must never broadcast — the round-7 rule), and the whole query runs
    in exactly THREE exchanges (two join sides + the pair rollup) —
    the exactly-once grid needs no de-duplicating exchange."""
    from etl_olho_vivo_spark import registry
    from tests.plan_walk import count_nodes, executed_plan, hash_shuffles

    registry.queries()
    df = registry.REGISTRY["geo_pairs"].fn(
        spark, "/root/testdata/sf0.001"
    )
    node = executed_plan(df)
    plan = node.toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert hash_shuffles(node) == 3, plan[:2000]
    # one 9-cell explode, probe side
    assert count_nodes(node)["GenerateExec"] == 1


def test_null_coordinate_pings_never_pair(spark):
    """A NULL-coordinate ping is dropped by construction (NULL cell
    never equi-joins; NULL haversine fails the threshold) — it can
    neither pair nor crash the grid, and valid pings around it still
    pair normally."""
    lat = -23.55
    rows = [
        (1, lat, -46.62, 1800 * 100),
        (2, lat + 1e-5, -46.62, 1800 * 100),
        (3, None, -46.62, 1800 * 100),
        (4, lat, None, 1800 * 100),
    ]
    got = sorted(
        (r["vehicle_a"], r["vehicle_b"])
        for r in colocation_pairs(
            spark.createDataFrame(rows, SCHEMA), 500.0
        ).collect()
    )
    assert got == [(1, 2)]


@pytest.mark.sweep
def test_colocate_cli(spark, tmp_path, capsys):
    """colocate subcommand end to end: pairs parquet + JSON summary,
    column-dial validation, config-error exit."""
    import json

    from etl_olho_vivo_spark.__main__ import main

    lat = -23.55
    src = str(tmp_path / "pos")
    spark.createDataFrame(
        [(1, lat, -46.62, 1800 * 100),
         (2, lat + 1e-5, -46.62, 1800 * 100),
         (3, lat - 0.2, -46.10, 1800 * 100)],
        SCHEMA,
    ).write.parquet(src)
    out = str(tmp_path / "pairs")
    assert main(["colocate", "--in", src, "--out", out]) == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["pairs"] == 1 and line["radius_m"] == 500.0
    (row,) = spark.read.parquet(out).collect()
    assert (row["vehicle_a"], row["vehicle_b"], row["n_close"]) == (1, 2, 1)
    with pytest.raises(SystemExit, match="lacks column"):
        main(["colocate", "--in", src, "--out", out,
              "--key-col", "nope"])
    with pytest.raises(SystemExit, match="radius_m"):
        main(["colocate", "--in", src, "--out", out,
              "--radius-m", "0"])
