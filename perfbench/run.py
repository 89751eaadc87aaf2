"""Product-path benchmark of the etl_olho_vivo_spark engine.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``daily_batch``: ``plans.daily.run_daily`` over a seeded raw zone; its
  traced run also drives ``streaming.pipeline.stream_speeds`` over poll
  files landed in a watched directory;
- ``corpus_batch``: ``plans.corpus.run_corpus`` (greedy + KN LM gate).

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run: spans around the calls into each
layer, with stage metrics from a Spark event log, reported per layer.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit); the line before it is
the full run record (ground truth, samples, problems found).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORKLOADS = ("daily_batch", "corpus_batch")
DRIVER_MEM = "2g"


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Every session setting the benchmark chooses, in one place."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.eventLog.enabled": str(trace).lower(),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(work: str, trace: bool):
    """``session.get_spark`` on every local core, then one small job."""
    from etl_olho_vivo_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf=session_conf(work, trace),
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def end_to_end(res, setup_s: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": statistics.median(res.wall_s), "unit": "s"},
    }


def per_layer(tracer, log_dir: str, traced: dict) -> dict:
    import eventlog
    from common import per_layer_units
    from spans import self_times

    groups = eventlog.read_group_metrics(log_dir)
    selfs = self_times(tracer.spans)
    values: dict[str, float] = {}
    for sp, self_s in zip(tracer.spans, selfs):
        acc = {"wall_s": sp.wall_s, "self_s": self_s}
        for g in [sp.group, *sp.extra_groups]:
            for k, v in groups.get(g, {}).items():
                acc[k] = acc.get(k, 0.0) + v
        for k, v in acc.items():
            key = f"{sp.name}.{k}"
            values[key] = values.get(key, 0.0) + v
    for name, (numerator, denominator) in traced["derived"].items():
        values[name] = values.get(numerator, 0.0) / denominator
    values.update(traced["counts"])
    units = per_layer_units()
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, (unit, _) in units.items()
    }
    traced["record"]["layer_values"] = values
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    trace = bool(args.trace)
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the short-lived JVM that spark-submit starts to build the driver's
    # command line would otherwise keep its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    sys.path.insert(0, REPO)
    try:
        import etl_olho_vivo_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import wl_corpus
    import wl_daily
    from spans import Tracer

    wl = {"daily_batch": wl_daily, "corpus_batch": wl_corpus}[args.workload]
    t_gen = time.perf_counter()
    inputs = wl.prepare(os.path.join(BENCH, ".cache"), args.seed, args.seconds)
    gen_s = time.perf_counter() - t_gen

    spark = start_session(work, trace)
    # from process start to a warm session, input generation excluded
    setup_s = time.perf_counter() - T0 - gen_s
    try:
        if trace:
            tracer = Tracer(spark.sparkContext)
            traced = wl.trace(spark, inputs, work, tracer, args.seconds)
            traced["counts"]["peak_rss_mb"] = jvm_peak_rss_mb(spark)
            record = traced["record"]
        else:
            res = wl.run(spark, inputs, args.seconds, work)
            record = res.record
            record["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)

    record.update(workload=args.workload, seed=args.seed, trace=args.trace)
    if trace:
        metrics = per_layer(tracer, os.path.join(work, "eventlog"), traced)
        attempted, failed = 1, int(bool(record["problems"]))
    else:
        record.update(
            setup_s=setup_s,
            input_generation_s=gen_s,
            wall_samples=res.wall_s,
            attempted=res.attempted,
            failed=res.failed,
            failed_frac=res.failed / max(res.attempted, 1),
        )
        attempted, failed = res.attempted, res.failed
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    if not trace:
        if not res.wall_s:
            print("perfbench: no successful measurement", file=sys.stderr)
            return 1
        metrics = end_to_end(res, setup_s)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
