"""The velocidades pipeline — the engine's flagship operator chain.

Re-expresses stage 3 of the reference
(``etl-olho-vivo-velocidades-medias.py:89-167``) as one lazy DataFrame plan:

    posicoes ─ interval labels (F2) ─ lag window per vehicle (W1)
             ─ clean filters (P4, P5, +tempo>0, P6) ─ haversine (F3)
             ─ round (F4) ─ speed (F5) ──┬─ lentidao (P7 + P8)
                                         ├─ agg 9 keys (A1) + Σd/Σt (A2)
                                         │     ├─ velocidades_agregadas (P8)
                                         │     └─ acessiveis (P8)

Scale notes (100 TB):
- exactly ONE shuffle: hash-by-``prefixo_veiculo`` for the lag window.
  The downstream 9-key aggregation includes ``prefixo_veiculo``, and a
  hash-partitioning on a subset key already co-locates every superset-key
  group, so Catalyst elides the aggregation exchange entirely
  (verified by tests/test_plans.py::test_flagship_shuffles_exactly_once).
- vehicle cardinality is high (10⁴–10⁵ vehicles for a city; far more for a
  fleet-of-cities corpus) and pings-per-vehicle is bounded (~1 per 2 min),
  so the window partitions are small and skew-free by construction.
- all expressions are JVM Column math inside whole-stage codegen — there is
  no Python in this plan.

Deliberate deviations from the reference (SURVEY.md §4.3):
- rows with ``tempo = 0`` (duplicate-timestamp pings) are dropped
  explicitly: pandas ``x/0 → inf`` is later removed by the ``> 33`` filter,
  while Spark ``x/0 → NULL`` would *survive* it (§4.3.1).
- the ``df[:1000]`` debug truncation (``:97-98``) is not reproduced.
- window ordering gets a deterministic tiebreaker column (pandas stable
  sort leaks file order on equal timestamps; Spark ties are
  nondeterministic without one) — §7 "hard" #3.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.geo import haversine_m
from etl_olho_vivo_spark.functions.timeops import (
    interval_30min_date,
    interval_30min_label,
)
from etl_olho_vivo_spark.schemas import (
    ACESSIVEIS_COLUMNS,
    AGG_KEYS,
    LENTIDAO_COLUMNS,
    VELOCIDADES_COLUMNS,
)

MAX_GAP_S = 600        # P5: drop acquisition gaps > 10 min (ref :112)
MAX_SPEED_MS = 33.0    # P6: drop speeds > 33 m/s ≈ 120 km/h (ref :127)
SLOW_SPEED_MS = 1.4    # P7: lentidao keeps speeds < 1.4 m/s ≈ 5 km/h (ref :137)


def with_intervals(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Add ``intervalo``/``data`` 30-min bucket labels (F2, ref ``:90``)."""
    ts = F.col(ts_col)
    return df.withColumns(
        {"intervalo": interval_30min_label(ts), "data": interval_30min_date(ts)}
    )


def with_lag(
    df: DataFrame,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Previous ``px``/``py``/``timestamp`` per vehicle (W1, ref ``:101-103``).

    Partition key is **vehicle only** — a vehicle switching line mid-day
    pairs across lines, exactly like the reference's
    ``groupby('prefixo_veiculo').shift(1)``.  ``tiebreakers`` makes ordering
    deterministic on equal timestamps.
    """
    w = Window.partitionBy("prefixo_veiculo").orderBy(
        "timestamp", *[F.col(c) for c in tiebreakers]
    )
    return df.withColumns(
        {
            "px_anterior": F.lag("px", 1).over(w),
            "py_anterior": F.lag("py", 1).over(w),
            "timestamp_anterior": F.lag("timestamp", 1).over(w),
        }
    )


def cleaned_speeds(
    df: DataFrame,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """posicoes → per-pair cleaned speed frame (ref ``:89-127``).

    Output: input columns + ``intervalo data px_anterior py_anterior
    timestamp_anterior tempo distancia velocidade_media``.
    """
    out = with_lag(with_intervals(df), tiebreakers)
    # P4 (ref :106): first ping of each vehicle has no previous position.
    out = out.filter(F.col("px_anterior").isNotNull())
    return clean_pairs(out)


def clean_pairs(paired: DataFrame) -> DataFrame:
    """The SHARED cleaning chain over consecutive-ping pair rows — any
    frame carrying ``timestamp/timestamp_anterior`` and both coordinate
    pairs.  Both execution modes call this ONE definition (batch lag
    window above; streaming stateful pairs,
    ``streaming/pipeline.py:stream_speeds``), so the gap rule, rounding
    order, and speed cap cannot drift between them.
    """
    # F5 (ref :109): seconds between consecutive pings.
    out = paired.withColumn(
        "tempo", F.col("timestamp") - F.col("timestamp_anterior")
    )
    # P5 (ref :112) + explicit tempo>0 (deviation, §4.3.1).
    out = out.filter((F.col("tempo") <= MAX_GAP_S) & (F.col("tempo") > 0))
    # F3+F4 (ref :115-121): haversine, rounded to 2 dp BEFORE the division —
    # the rounding order affects speed values and is kept for parity.
    out = out.withColumn(
        "distancia",
        F.round(
            haversine_m(
                F.col("py_anterior"), F.col("px_anterior"), F.col("py"), F.col("px")
            ),
            2,
        ),
    )
    # F5 (ref :124) then P6 (ref :127).
    out = out.withColumn("velocidade_media", F.col("distancia") / F.col("tempo"))
    return out.filter(F.col("velocidade_media") <= MAX_SPEED_MS)


def lentidao(cleaned: DataFrame) -> DataFrame:
    """Slow points: speed < 1.4 m/s, un-aggregated (P7+P8, ref ``:137-140``)."""
    return cleaned.filter(F.col("velocidade_media") < SLOW_SPEED_MS).select(
        *LENTIDAO_COLUMNS
    )


def _aggregate(cleaned: DataFrame) -> DataFrame:
    """A1+A2 (ref ``:146-155``): 9-key rollup with mean position and the
    algebraically-correct speed ``Σdistancia/Σtempo`` computed *inside* the
    agg — the reference's mean-of-means intermediate is never materialized
    (§4.3.7)."""
    return cleaned.groupBy(*AGG_KEYS).agg(
        F.avg("px").alias("px"),
        F.avg("py").alias("py"),
        F.sum("distancia").alias("distancia"),
        F.sum("tempo").alias("tempo"),
        (F.sum("distancia") / F.sum("tempo")).alias("velocidade_media"),
    )


def velocidades_agregadas(cleaned: DataFrame) -> DataFrame:
    """Aggregated mean speeds (ref ``:146-158``), 13 columns in exact order."""
    return _aggregate(cleaned).select(*VELOCIDADES_COLUMNS)


def acessiveis(cleaned: DataFrame) -> DataFrame:
    """Mean position per interval with accessibility flag (ref ``:166``)."""
    return _aggregate(cleaned).select(*ACESSIVEIS_COLUMNS)
