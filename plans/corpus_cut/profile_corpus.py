"""Profile one warm ``run_corpus`` call: SQL events and driver time.

    python3 plans/corpus_cut/profile_corpus.py --sf-dir DIR --warmup-dir DIR \
        --work /tmp/corpus-profile > corpus_events.txt

Runs ``plans.corpus.run_corpus`` with the benchmark's arguments (greedy
resolution, order-3 Kneser-Ney gate at 2.3 nats) once on the warm-up
table and once, warm, on the measured table, with an uncompressed Spark
event log.  For the warm call it prints

- per SQL execution: its duration (start to end event), the jobs it
  ran, the bytes of SQL events it posted (execution start, AQE plan
  updates, metric updates) and the line count of its physical plan
  description;
- per driver action (``count``, ``collect``, ``localCheckpoint``,
  parquet write): its wall time, keyed by the first calling line in the
  engine package outside ``caching.py``.  A lazy ``localCheckpoint``
  still runs the shuffle stages of an adaptive plan when it is called,
  so it is an action here.

The engine is not modified: actions are timed by wrapping those four
PySpark entry points for the duration of the warm call.  The tables are
``perfbench``'s cached corpus input (``perfbench/.cache/corpus-<seed>-
1000/{main,warmup}``, generated by a ``corpus_batch`` run).
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PKG = os.path.join(REPO, "etl_olho_vivo_spark") + os.sep
CACHING = os.path.join(PKG, "caching.py")
CORPUS_ARGS = {"lm_scheme": "kn", "lm_order": 3, "lm_max_entropy": 2.3}
SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListenerSQL"


def timed_actions(spark, log: list):
    """Wrap DataFrame.count/collect/localCheckpoint and
    DataFrameWriter.parquet so each call appends (engine call site,
    seconds) to ``log``."""
    # the session's concrete classes (PySpark 4 splits classic/connect)
    DataFrame = type(spark.range(1))
    DataFrameWriter = type(spark.range(1).write)

    def site() -> str:
        # a cut is attributed to the line that cuts, not to caching.py
        for fr in reversed(traceback.extract_stack()[:-2]):
            if fr.filename.startswith(PKG) and fr.filename != CACHING:
                rel = os.path.relpath(fr.filename, REPO)
                return f"{rel}:{fr.lineno}  {fr.line}"
        return "?"

    originals = []
    for cls, name in ((DataFrame, "count"), (DataFrame, "collect"),
                      (DataFrame, "localCheckpoint"),
                      (DataFrameWriter, "parquet")):
        fn = getattr(cls, name)
        originals.append((cls, name, fn))

        def wrapped(*a, __fn=fn, **kw):
            where = site()
            t0 = time.perf_counter()
            try:
                return __fn(*a, **kw)
            finally:
                log.append((where, time.perf_counter() - t0))

        setattr(cls, name, wrapped)

    def restore() -> None:
        for cls, name, fn in originals:
            setattr(cls, name, fn)

    return restore


def sql_executions(log_dir: str, t0_ms: int, t1_ms: int) -> list[dict]:
    """Per SQL execution started in [t0_ms, t1_ms]: duration, jobs,
    SQL event bytes, plan lines."""
    (path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    execs: dict[int, dict] = {}
    with open(path, "rb") as f:
        for raw in f:
            ev = json.loads(raw)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                eid = ev.get("Properties", {}).get("spark.sql.execution.id")
                if eid is not None and int(eid) in execs:
                    execs[int(eid)]["jobs"] += 1
                continue
            if not kind.startswith(SQL_EVENT) or "executionId" not in ev:
                continue
            eid = ev["executionId"]
            if kind.endswith("SQLExecutionStart"):
                if not t0_ms <= ev["time"] <= t1_ms:
                    continue
                execs[eid] = {
                    "id": eid,
                    "description": ev["description"]
                    .replace(REPO + os.sep, "").splitlines()[0][:60],
                    "start": ev["time"],
                    "end": None,
                    "jobs": 0,
                    "event_bytes": 0,
                    "plan_lines": ev["physicalPlanDescription"].count("\n"),
                }
            if eid not in execs:
                continue
            execs[eid]["event_bytes"] += len(raw)
            if kind.endswith("SQLExecutionEnd"):
                execs[eid]["end"] = ev["time"]
    return sorted(execs.values(), key=lambda e: e["id"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--warmup-dir", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from etl_olho_vivo_spark.plans.corpus import run_corpus
    from etl_olho_vivo_spark.session import get_spark

    shutil.rmtree(args.work, ignore_errors=True)
    log_dir = os.path.join(args.work, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark(
        app_name="corpus-profile",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(args.work, "spark-local"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    run_corpus(spark, args.warmup_dir, os.path.join(args.work, "warm"), **CORPUS_ARGS)
    actions: list = []
    restore = timed_actions(spark, actions)
    t0_ms, t0 = int(time.time() * 1000), time.perf_counter()
    try:
        stats = run_corpus(spark, args.sf_dir, os.path.join(args.work, "out"), **CORPUS_ARGS)
    finally:
        restore()
    wall = time.perf_counter() - t0
    t1_ms = int(time.time() * 1000)
    spark.stop()

    execs = sql_executions(log_dir, t0_ms, t1_ms)
    total_bytes = sum(e["event_bytes"] for e in execs)
    print(f"run_corpus warm call: {wall:.2f} s, stats {json.dumps(stats)}")
    print(f"SQL executions: {len(execs)}, jobs: {sum(e['jobs'] for e in execs)}, "
          f"SQL event bytes: {total_bytes} ({total_bytes / 1e6:.1f} MB)")
    print()
    print("== per SQL execution ==")
    print(f"{'id':>5} {'ms':>7} {'jobs':>5} {'event_bytes':>12} {'plan_lines':>10}  description")
    for e in execs:
        ms = e["end"] - e["start"] if e["end"] is not None else -1
        print(f"{e['id']:>5} {ms:>7} {e['jobs']:>5} {e['event_bytes']:>12} "
              f"{e['plan_lines']:>10}  {e['description']}")
    print()
    print("== driver time per action (engine call site) ==")
    per_site: dict[str, list[float]] = collections.defaultdict(list)
    for where, s in actions:
        per_site[where].append(s)
    print(f"{'s':>7} {'calls':>5}  site")
    for where, ss in per_site.items():
        print(f"{sum(ss):>7.3f} {len(ss):>5}  {where}")
    print(f"{sum(s for _, s in actions):>7.3f} {len(actions):>5}  (all actions)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
