"""The composed daily pipeline — reference stages 2+3 as ONE Spark DAG.

The reference couples its stages by clock offset (6:00 flatten, 6:30
analytics, ``README.md:13,22``) with no completion signal — a silent race
if stage 2 overruns.  Here the dependency is explicit dataflow
(SURVEY §3.4):

    raw JSON ─ flatten ─┬─ posicoes parquet (S7)
                        └─ cleaned speeds ──(persist)──┬─ lentidao CSV
                                                       ├─ velocidades CSV
                                                       ├─ acessiveis CSV
                                                       └─ (opt) per-pair CSV

Scale notes:
- the cleaned frame is persisted once and feeds all sinks (SURVEY
  §3.3: one DAG, one action per sink) — without it each sink would re-run
  the scan + window;
- at 100 TB persistence spills to disk (MEMORY_AND_DISK) rather than
  recomputing extra scans; the agg outputs are tiny next to the scan;
- three shuffles per run: the lag window once (its output is the
  persisted frame) and the 9-key aggregate twice, because the
  ``velocidades_agregadas`` and ``acessiveis`` sinks each run
  ``speed._aggregate`` in their own write job;
- row counts ride the write job itself via ``Observation``
  (CollectMetrics folds the count into the same action) — a 100 TB sink
  never pays a second full recompute just to report its size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_olho_vivo_spark.io.flatten import ingest_posicoes
from etl_olho_vivo_spark.io.sinks import write_csv, write_posicoes_parquet
from etl_olho_vivo_spark.operators import speed


def run_daily(
    spark: SparkSession,
    raw_path: str,
    out_dir: str,
    write_fact: bool = True,
    write_pairs: bool = False,
) -> dict[str, int]:
    """Raw JSON → fact parquet + three derived CSVs.  Returns row counts.

    ``write_pairs=True`` additionally emits the cleaned per-pair speed
    frame as a fourth CSV dataset (``velocidades``) — the reference's
    commented-out granular output (S10,
    ``etl-olho-vivo-velocidades-medias.py:129-131``: "dados muito
    granulares, melhor manter apenas a versão agregada"), off by
    default for the same reason the reference disabled it.
    """
    pos = ingest_posicoes(spark, raw_path)
    if write_fact:
        write_posicoes_parquet(pos, f"{out_dir}/posicoes")

    # Deterministic lag ordering on duplicate (vehicle, timestamp) pings:
    # tiebreak on natural columns so re-runs and retries produce identical
    # pairs regardless of file/split order (speed.py determinism note).
    cleaned = speed.cleaned_speeds(
        pos, tiebreakers=("codigo_linha", "py", "px")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        datasets: dict[str, DataFrame] = {
            "lentidao": speed.lentidao(cleaned),
            "velocidades_agregadas": speed.velocidades_agregadas(cleaned),
            "acessiveis": speed.acessiveis(cleaned),
        }
        if write_pairs:
            datasets["velocidades"] = cleaned
        counts: dict[str, int] = {}
        for name, df in datasets.items():
            # the count is observed INSIDE the write job (CollectMetrics
            # node above the sink) — one action per sink, never a second
            # recompute of a corpus-sized frame for telemetry
            obs = Observation(f"rows_{name}")
            write_csv(
                df.observe(obs, F.count(F.lit(1)).alias("rows")),
                f"{out_dir}/{name}",
            )
            counts[name] = int(obs.get["rows"])
        return counts
    finally:
        cleaned.unpersist()
