"""``daily_batch``: ``plans.daily.run_daily`` over a seeded service-day raw
zone, closed loop, one call at a time, after ``WARMUP_CALLS`` warm-up calls
on the same zone.

The zone is large enough that the work that grows with the data (JSON
parsing, the lag-window shuffle, the sinks) is most of a warm call; the
rest is the per-call cost of planning and scheduling its jobs.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import gen_raw
import reference
import wl_stream
from common import Outcome, closed_loop, fresh_dir

#: 3 h of 30 s polls from 1000 vehicles on 20 lines (~305k pings, ~26 MB)
SIZE = {"polls": 360, "vehicles": 1000, "n_lines": 20}
TIEBREAKERS = ("codigo_linha", "py", "px")
#: a process's first call compiles the plans and loads the classes (~4x a
#: steady call); the JIT keeps compiling over the next calls (~1.6x, 1.2x,
#: 1.1x), and from the fifth on calls are within a few percent of a
#: steady one.  Timed calls taken earlier, still on that slope, made the
#: run-to-run spread larger
WARMUP_CALLS = 4


def prepare(cache_dir: str, seed: int, seconds: float) -> dict:
    """Generate (or reuse) the raw zone and its DuckDB reference tables."""
    tag = "-".join(str(v) for v in SIZE.values())
    root = os.path.join(cache_dir, f"daily-{seed}-{tag}")
    truth_path = os.path.join(root, "truth.json")
    if not os.path.exists(truth_path):
        raw = fresh_dir(os.path.join(root, "raw"))
        truth = gen_raw.generate(raw, seed, **SIZE)
        truth.pop("files")
        truth["reference_rows"] = reference.write_reference(
            raw, fresh_dir(os.path.join(root, "reference"))
        )
        with open(truth_path + ".tmp", "w") as f:
            json.dump(truth, f)
        os.replace(truth_path + ".tmp", truth_path)
    with open(truth_path) as f:
        truth = json.load(f)
    return {
        "raw": os.path.join(root, "raw"),
        "reference": os.path.join(root, "reference"),
        "truth": truth,
        "stream": wl_stream.prepare(cache_dir, seed),
    }


def check(out_dir: str, counts: dict, inputs: dict) -> list[str]:
    """Problems with one call's outputs (empty when correct)."""
    truth = inputs["truth"]
    got = reference.compare_outputs(out_dir, inputs["reference"])
    problems = []
    if got["posicoes"][0] != truth["valid_pings"]:
        problems.append(
            f"fact rows {got['posicoes'][0]} != valid pings {truth['valid_pings']}"
        )
    for name, want in truth["reference_rows"].items():
        rows, unmatched = got[name]
        if rows != want or unmatched:
            problems.append(
                f"{name}: {rows} rows ({unmatched} unmatched) vs reference {want}"
            )
        if counts.get(name) != want:
            problems.append(f"{name}: returned count {counts.get(name)} != {want}")
    return problems


def run(spark, inputs: dict, seconds: float, work: str) -> Outcome:
    from etl_olho_vivo_spark.plans.daily import run_daily

    def call(i: int):
        out = os.path.join(work, f"call-{i}")
        return out, run_daily(spark, inputs["raw"], out)

    def check_call(i: int, result) -> list[str]:
        out, counts = result
        problems = check(out, counts, inputs)
        shutil.rmtree(out)
        return problems

    res = closed_loop(call, check_call, seconds, WARMUP_CALLS)
    res.record["ground_truth"] = inputs["truth"]
    return res


def trace(spark, inputs: dict, work: str, tracer, seconds: float) -> dict:
    """The whole call once, then the same layer calls one by one, each
    materialized at its span's boundary; then the streaming layer
    (``wl_stream.trace``) over poll files of the same generator."""
    from etl_olho_vivo_spark.io.flatten import (
        corrupt_records,
        ingest_posicoes,
        read_raw_posicoes,
    )
    from etl_olho_vivo_spark.io.sinks import write_csv, write_posicoes_parquet
    from etl_olho_vivo_spark.operators import speed
    from etl_olho_vivo_spark.plans.daily import run_daily

    raw, truth = inputs["raw"], inputs["truth"]
    for _ in range(WARMUP_CALLS):
        run_daily(spark, raw, fresh_dir(os.path.join(work, "warmup")))
    with tracer.span("plans.daily.run_daily") as whole:
        counts = run_daily(spark, raw, fresh_dir(os.path.join(work, "whole")))
    out = fresh_dir(os.path.join(work, "decomposed"))
    with tracer.span("trace.daily") as decomposed:
        with tracer.span("io.flatten.ingest_posicoes"):
            pos = ingest_posicoes(spark, raw)
            pings = pos.count()
        # collected, not counted: a bare count prunes the scan to the corrupt
        # column alone, which Spark refuses (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
        corrupt = len(corrupt_records(read_raw_posicoes(spark, raw)).collect())
        with tracer.span("io.sinks.write_posicoes_parquet"):
            write_posicoes_parquet(pos, f"{out}/posicoes")
        with tracer.span("operators.speed.cleaned_speeds"):
            cleaned = speed.cleaned_speeds(pos, tiebreakers=TIEBREAKERS).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            pairs = cleaned.count()
        datasets = {
            "lentidao": speed.lentidao(cleaned),
            "velocidades_agregadas": speed.velocidades_agregadas(cleaned),
            "acessiveis": speed.acessiveis(cleaned),
        }
        parts = {}
        for name, df in datasets.items():
            with tracer.span("io.sinks.write_csv"):
                obs = Observation(f"rows_{name}")
                write_csv(
                    df.observe(obs, F.count(F.lit(1)).alias("rows")),
                    f"{out}/{name}",
                )
                parts[name] = int(obs.get["rows"])
        cleaned.unpersist()
    problems = check(out, parts, inputs)
    if parts != counts:
        problems.append(f"decomposed counts {parts} != run_daily {counts}")
    if (pings, corrupt) != (truth["valid_pings"], truth["corrupt_docs"]):
        problems.append(f"pings/corrupt {pings}/{corrupt} != ground truth")
    stream = wl_stream.trace(spark, inputs["stream"], work, tracer)
    problems.extend(f"stream: {p}" for p in stream["record"]["problems"])
    return {
        "counts": {
            "io.flatten.pings": pings,
            "io.flatten.corrupt_docs": corrupt,
            "operators.speed.pair_keep_ratio": pairs / pings,
            "trace_overhead_s": decomposed.wall_s - whole.wall_s,
            **stream["counts"],
        },
        # raw-zone bytes the whole call scanned, per byte of raw zone
        "derived": {
            "plans.daily.raw_scan_ratio": (
                "plans.daily.run_daily.scan_bytes", truth["zone_bytes"]
            ),
            **stream["derived"],
        },
        "record": {
            "ground_truth": truth, "run_daily": counts, "stream": stream["record"],
            "problems": problems,
        },
    }
