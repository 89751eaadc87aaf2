"""Names and helpers shared by the benchmark's workloads."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

#: spans recorded by the traced run, named after the layer function called
SPANS = (
    "plans.daily.run_daily",
    "io.flatten.ingest_posicoes",
    "operators.speed.cleaned_speeds",
    "io.sinks.write_posicoes_parquet",
    "io.sinks.write_csv",
    "streaming.pipeline.stream_speeds",
    "plans.corpus.run_corpus",
    "plans.corpus.document_profile",
    "operators.dedup.exact_dedup",
    "operators.dedup.near_duplicates",
    "operators.lm.kneser_ney_counts",
    "operators.lm.kneser_ney_scores",
)
#: per-span suffix -> (unit, better)
SPAN_SUFFIXES = {
    "wall_s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "input_bytes": ("bytes", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
}
#: layer counts and ratios -> (unit, better)
COUNTS = {
    "plans.daily.raw_scan_ratio": ("ratio", "lower"),
    "io.flatten.pings": ("count", "higher"),
    "io.flatten.corrupt_docs": ("count", "lower"),
    "operators.speed.pair_keep_ratio": ("ratio", "higher"),
    "streaming.pipeline.drain_s": ("s", "lower"),
    "streaming.pipeline.latency_p50_s": ("s", "lower"),
    "streaming.pipeline.latency_p90_s": ("s", "lower"),
    "streaming.pipeline.add_batch_ms_p50": ("ms", "lower"),
    "streaming.pipeline.query_planning_ms_p50": ("ms", "lower"),
    "streaming.pipeline.wal_commit_ms_p50": ("ms", "lower"),
    "streaming.pipeline.state_commit_ms_p50": ("ms", "lower"),
    "streaming.pipeline.state_rows": ("count", "lower"),
    "streaming.pipeline.state_memory_bytes": ("bytes", "lower"),
    "streaming.pipeline.python_exec_s": ("s", "lower"),
    "streaming.pipeline.backlog_files_max": ("count", "lower"),
    "streaming.pipeline.backlog_growth_files": ("count", "lower"),
    "streaming.pipeline.generator_late_s_max": ("s", "lower"),
    "operators.dedup.candidate_pairs": ("count", "lower"),
    "operators.dedup.verified_pairs": ("count", "higher"),
    "operators.dedup.verify_ratio": ("ratio", "higher"),
    "trace_overhead_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}


def per_layer_units() -> dict[str, tuple[str, str]]:
    out = {
        f"{span}.{suffix}": unit_better
        for span in SPANS
        for suffix, unit_better in SPAN_SUFFIXES.items()
    }
    out.update(COUNTS)
    return out


@dataclass
class Outcome:
    """What one untraced workload run measured."""

    wall_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    record: dict = field(default_factory=dict)


def closed_loop(call, check, seconds: float, warmup: int) -> Outcome:
    """``warmup`` calls, then timed calls, one at a time, until the timed
    ones add up to ``seconds``.  ``call(i)`` makes call ``i`` and
    ``check(i, result)`` lists the problems with its output.  Every call
    is checked and counted; one that raises or fails its check is a failed
    call.  Failed calls count towards ``seconds`` too, so the loop ends."""
    res = Outcome()
    problems: list[str] = []
    walls: list[float] = []  # every call's, warm-up calls included
    spent = 0.0
    while res.attempted < warmup or spent < seconds:
        i = res.attempted
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            result = call(i)
        except Exception as e:  # a failed call is counted, not fatal
            wall = time.perf_counter() - t0
            bad = [f"{type(e).__name__}: {e}"]
        else:
            wall = time.perf_counter() - t0
            if i >= warmup:
                res.wall_s.append(wall)
            bad = check(i, result)
        walls.append(wall)
        if i >= warmup:
            spent += wall
        if bad:
            res.failed += 1
            problems.extend(f"call {i}: {p}" for p in bad)
    res.record.update(problems=problems, call_s=walls)
    return res


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in (0, 1)) of ``values``."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]
