"""The streaming layer: ``streaming.pipeline.stream_speeds`` over poll
files that land in a watched directory, into a noop sink.  It runs inside
``daily_batch``'s traced run (``wl_daily.trace``) and reports per-layer
metrics only.

- Phase 1 (capacity): a backlog of ``BACKLOG`` files is landed before the
  query starts; ``drain_s`` is the time from ``start()`` to the end of the
  micro-batch that consumes the last of them.
- Phase 2 (latency, open loop): a separate process lands ``PHASE2_FILES``
  more files at ``RATE`` files/s, a rate below phase-1 capacity.  A file's
  latency is the end of the micro-batch that read it
  (``StreamingQueryProgress.timestamp`` + its ``triggerExecution``) minus
  the time the file was due to land.

Files land in poll order with increasing modification times, so each
micro-batch holds a contiguous run of polls and the stream pairs pings
exactly as the batch lag window does.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime

import gen_raw
from common import fresh_dir, quantile

BACKLOG = 150
RATE = 12.0  # files/s in phase 2, below phase-1 capacity (~20 files/s)
#: at least 100, so that p90 has 10 samples beyond it
PHASE2_FILES = 120
FILES_PER_TRIGGER = 30
SIZE = {"vehicles": 100, "n_lines": 20}
WARMUP_POLLS = 10
TIEBREAKERS = ("codigo_linha", "py", "px")
TIMEOUT_S = 90


def prepare(cache_dir: str, seed: int) -> dict:
    """Generate (or reuse) the poll files and their ground truth."""
    polls = BACKLOG + PHASE2_FILES
    root = os.path.join(cache_dir, f"stream-{seed}-{polls}-{SIZE['vehicles']}")
    truth_path = os.path.join(root, "truth.json")
    if not os.path.exists(truth_path):
        truth = gen_raw.generate(
            fresh_dir(os.path.join(root, "polls")), seed, polls,
            hive_layout=False, **SIZE,
        )
        warm = gen_raw.generate(
            fresh_dir(os.path.join(root, "warmup")), seed + 1_000_003,
            WARMUP_POLLS, hive_layout=False, **SIZE,
        )
        truth["warmup_files"] = warm["files"]
        with open(truth_path + ".tmp", "w") as f:
            json.dump(truth, f)
        os.replace(truth_path + ".tmp", truth_path)
    with open(truth_path) as f:
        truth = json.load(f)
    return {"root": root, "truth": truth}


def _land_now(src: str, dst: str, files: list[str]) -> None:
    """Land ``files`` at once, with mtimes 10 ms apart in list order."""
    base = time.time_ns() - len(files) * 10_000_000
    for i, name in enumerate(files):
        stamp = base + i * 10_000_000
        os.utime(os.path.join(src, name), ns=(stamp, stamp))
        os.replace(os.path.join(src, name), os.path.join(dst, name))


def _query(spark, watch: str, ckpt: str):
    from etl_olho_vivo_spark.streaming.pipeline import (
        stream_raw_posicoes,
        stream_speeds,
    )

    pos = stream_raw_posicoes(spark, watch, max_files_per_trigger=FILES_PER_TRIGGER)
    return (
        stream_speeds(pos, tiebreakers=TIEBREAKERS)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )


class _Progress:
    """Micro-batch progress collected by polling the running query."""

    def __init__(self, q) -> None:
        self.q = q
        self.batches: dict[int, dict] = {}

    def poll(self) -> int:
        """Refresh; return the input rows committed so far."""
        ex = self.q.exception()
        if ex is not None:
            raise RuntimeError(f"streaming query failed: {ex}")
        for p in self.q.recentProgress:
            self.batches[p.batchId] = json.loads(p.json)
        return sum(b["numInputRows"] for b in self.batches.values())

    def wait_rows(self, rows: int, deadline: float) -> None:
        while self.poll() < rows:
            if time.time() > deadline:
                raise TimeoutError(f"stream consumed {self.poll()} of {rows} files")
            time.sleep(0.05)


def _batch_end(b: dict) -> float:
    start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + b["durationMs"]["triggerExecution"] / 1e3


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the checkpoint's file-source log."""
    out = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def drive(spark, inputs: dict, work: str, tracer) -> dict:
    """Warm up, then run both phases inside the
    ``streaming.pipeline.stream_speeds`` span; return the raw observations."""
    root, truth = inputs["root"], inputs["truth"]
    stage = {}
    for sub, key in (("polls", "files"), ("warmup", "warmup_files")):
        stage[sub] = fresh_dir(os.path.join(work, f"stage-{sub}"))
        for name in truth[key]:
            shutil.copyfile(os.path.join(root, sub, name), os.path.join(stage[sub], name))

    watch_w = fresh_dir(os.path.join(work, "watch-warmup"))
    _land_now(stage["warmup"], watch_w, truth["warmup_files"])
    q = _query(spark, watch_w, fresh_dir(os.path.join(work, "ckpt-warmup")))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    backlog, later = truth["files"][:BACKLOG], truth["files"][BACKLOG:]
    watch = fresh_dir(os.path.join(work, "watch"))
    ckpt = os.path.join(work, "ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    _land_now(stage["polls"], watch, backlog)
    spec = {
        "src": stage["polls"], "dst": watch, "files": later, "rate": RATE,
        "log": os.path.join(work, "landed.json"),
    }
    with tracer.span("streaming.pipeline.stream_speeds") as span:
        t_start = time.time()
        q = _query(spark, watch, ckpt)
        lander = None
        try:
            span.extra_groups.append(str(q.runId))
            prog = _Progress(q)
            prog.wait_rows(BACKLOG, t_start + TIMEOUT_S)
            drained = max(_batch_end(b) for b in prog.batches.values()) - t_start
            spec["start"] = time.time() + 0.5
            with open(os.path.join(work, "lander.json"), "w") as f:
                json.dump(spec, f)
            lander = subprocess.Popen(
                [sys.executable, os.path.join(os.path.dirname(__file__), "lander.py"),
                 os.path.join(work, "lander.json")]
            )
            prog.wait_rows(BACKLOG + len(later), time.time() + TIMEOUT_S)
            if lander.wait(timeout=TIMEOUT_S) != 0:
                raise RuntimeError("lander failed")
        finally:
            if lander is not None and lander.poll() is None:
                lander.kill()
                lander.wait()
            q.stop()
    prog.poll()
    with open(spec["log"]) as f:
        landed = json.load(f)
    return {
        "watch": watch,
        "drain_s": drained,
        "batches": [prog.batches[k] for k in sorted(prog.batches)],
        "file_batch": _file_batches(ckpt),
        "landed": landed,
    }


def check_pairs(spark, obs: dict, truth: dict) -> list[str]:
    """The stream's pair count against ``cleaned_speeds`` over the same
    files and against the generator's ground truth."""
    from etl_olho_vivo_spark.io.flatten import ingest_posicoes
    from etl_olho_vivo_spark.operators.speed import cleaned_speeds

    streamed = sum(b["sink"]["numOutputRows"] for b in obs["batches"])
    batch = cleaned_speeds(
        ingest_posicoes(spark, obs["watch"]), tiebreakers=TIEBREAKERS
    ).count()
    obs["pairs"] = {"stream": streamed, "batch": batch, "truth": truth["cleaned_pairs"]}
    if not streamed == batch == truth["cleaned_pairs"]:
        return [f"pair counts differ: {obs['pairs']}"]
    return []


def latencies(obs: dict) -> list[float]:
    ends = {b["batchId"]: _batch_end(b) for b in obs["batches"]}
    return [ends[obs["file_batch"][e["file"]]] - e["due"] for e in obs["landed"]]


def _backlog(obs: dict) -> tuple[int, float]:
    """Phase 2's backlog (files landed, not yet committed): its maximum, and
    its growth as the mean backlog seen at landings in the second half of
    the phase minus the mean in the first half (about 0 when the stream
    keeps up)."""
    ends = {b["batchId"]: _batch_end(b) for b in obs["batches"]}
    committed = sorted(ends[obs["file_batch"][e["file"]]] for e in obs["landed"])
    landed = sorted(e["landed"] for e in obs["landed"])

    def at(t: float) -> int:
        return sum(x <= t for x in landed) - sum(x <= t for x in committed)

    at_landing = [at(t) for t in landed]
    half = len(at_landing) // 2
    growth = statistics.mean(at_landing[half:]) - statistics.mean(at_landing[:half])
    return max(at_landing + [at(t) for t in committed]), growth


def trace(spark, inputs: dict, work: str, tracer) -> dict:
    obs = drive(spark, inputs, work, tracer)
    problems = check_pairs(spark, obs, inputs["truth"])
    busy = [b for b in obs["batches"] if b["numInputRows"] > 0]

    def p50(key) -> float:
        return quantile([float(key(b)) for b in busy], 0.5)

    state = busy[-1]["stateOperators"][0]
    backlog_max, growth = _backlog(obs)
    lat = latencies(obs)
    return {
        "counts": {
            "streaming.pipeline.drain_s": obs["drain_s"],
            "streaming.pipeline.latency_p50_s": quantile(lat, 0.5),
            "streaming.pipeline.latency_p90_s": quantile(lat, 0.9),
            "streaming.pipeline.add_batch_ms_p50": p50(lambda b: b["durationMs"]["addBatch"]),
            "streaming.pipeline.query_planning_ms_p50": p50(
                lambda b: b["durationMs"]["queryPlanning"]
            ),
            "streaming.pipeline.wal_commit_ms_p50": p50(lambda b: b["durationMs"]["walCommit"]),
            "streaming.pipeline.state_commit_ms_p50": p50(
                lambda b: b["stateOperators"][0]["commitTimeMs"]
            ),
            "streaming.pipeline.state_rows": state["numRowsTotal"],
            "streaming.pipeline.state_memory_bytes": state["memoryUsedBytes"],
            "streaming.pipeline.backlog_files_max": backlog_max,
            "streaming.pipeline.backlog_growth_files": growth,
            "streaming.pipeline.generator_late_s_max": max(
                e["landed"] - e["due"] for e in obs["landed"]
            ),
        },
        "derived": {
            "streaming.pipeline.python_exec_s": ("streaming.pipeline.stream_speeds.python_s", 1)
        },
        "record": {
            "ground_truth": {
                k: v for k, v in inputs["truth"].items() if not k.endswith("files")
            },
            "pairs": obs["pairs"],
            "micro_batches": len(busy),
            "problems": problems,
        },
    }
