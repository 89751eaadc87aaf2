"""Streaming mode: file-source flatten, watermarked 30-min windows, and the
stateful online lag — checked for parity against the batch pipeline on the
same raw files (SURVEY §2.9; phase 4)."""

from __future__ import annotations

import json

import pytest

from etl_olho_vivo_spark.io.flatten import ingest_posicoes
from etl_olho_vivo_spark.operators import speed
from etl_olho_vivo_spark.streaming.pipeline import (
    stream_raw_posicoes,
    stream_speeds,
)

T0 = 1715311800  # 2024-05-10 03:30:00 UTC


def _doc(pings):
    """One raw API document: pings = [(veh, linha, ts_iso, py, px)]."""
    lines: dict[int, dict] = {}
    for veh, linha, ts, py, px in pings:
        line = lines.setdefault(
            linha,
            {
                "c": f"{linha}-X", "cl": linha, "sl": 1,
                "lt0": f"D{linha}", "lt1": f"O{linha}", "qv": 0, "vs": [],
            },
        )
        line["vs"].append(
            {"p": veh, "a": True, "ta": ts, "py": py, "px": px}
        )
        line["qv"] += 1
    return {"hr": "03:30", "l": list(lines.values())}


def _iso(ts):
    import datetime as dt

    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


@pytest.fixture()
def raw_dir(tmp_path):
    d = tmp_path / "stream_raw"
    d.mkdir()
    # three polls, 60 s apart, two vehicles moving ~111 m per step
    for i in range(3):
        doc = _doc(
            [
                (1, 10, _iso(T0 + 60 * i), -23.60 - 0.001 * i, -46.60),
                (2, 11, _iso(T0 + 60 * i), -23.70 - 0.001 * i, -46.70),
            ]
        )
        p = d / f"data_{i}.json"
        p.write_text(json.dumps(doc))
        # the file source triggers micro-batches in modification-time order;
        # freshly-written files can tie (or invert) at ms granularity, so
        # pin strictly-increasing mtimes to make arrival order = poll order
        import os

        os.utime(p, (T0 + 60 * i, T0 + 60 * i))
    return str(d)


def _run_to_memory(sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_flatten_matches_batch(spark, raw_dir):
    sdf = stream_raw_posicoes(spark, raw_dir)
    assert sdf.isStreaming
    _run_to_memory(sdf, "flat_stream", "append")
    got = spark.table("flat_stream").orderBy("prefixo_veiculo", "timestamp")
    want = ingest_posicoes(spark, raw_dir).orderBy(
        "prefixo_veiculo", "timestamp"
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_watermark_drops_late_pings(spark, tmp_path):
    """Append mode + watermark across a checkpointed restart: once a
    window is finalized, a late ping for it is dropped EXPLICITLY (the
    declarative replacement for 'the 6:30 job covers yesterday' — late
    data never lands in an already-emitted bucket, and never duplicates
    it).  The restart models the real case: late data arriving after the
    job that finalized the window.  (Within a single run, Spark's late
    filter uses the previous batch's committed watermark, so same-run
    stragglers one batch behind can still land — the checkpoint boundary
    is where the guarantee is exact.)"""
    import json as _json
    import os

    from pyspark.sql import functions as F

    d = tmp_path / "late_raw"
    d.mkdir()
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_once():
        # 30-min tumbling ping counts over the event-time instant
        pos = stream_raw_posicoes(spark, str(d)).withColumn(
            "event_time", F.timestamp_seconds(F.col("timestamp"))
        ).withWatermark("event_time", "1 hour")
        sdf = (
            pos.groupBy(
                F.window("event_time", "30 minutes").alias("w"),
                "codigo_linha",
            )
            .agg(F.count(F.lit(1)).alias("n_pings"))
            .select(
                F.unix_timestamp("w.start").alias("bucket_start"),
                "codigo_linha",
                "n_pings",
            )
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    # run 1: one ping in bucket A (T0) and one 2 h later — watermark ends
    # at T0+1h, past bucket A's end, so A is finalized and emitted
    f0 = d / "data_0.json"
    f0.write_text(
        _json.dumps(_doc([(1, 10, _iso(T0), -23.60, -46.60),
                          (1, 10, _iso(T0 + 7200), -23.61, -46.60)]))
    )
    os.utime(f0, (T0, T0))
    run_once()

    # run 2 (restart from checkpoint): a LATE ping for bucket A + a fresh
    # one keeping the 2 h bucket open
    f1 = d / "data_1.json"
    f1.write_text(
        _json.dumps(_doc([(2, 10, _iso(T0 + 60), -23.70, -46.70),
                          (1, 10, _iso(T0 + 7260), -23.62, -46.60)]))
    )
    os.utime(f1, (T0 + 1, T0 + 1))
    q2 = run_once()

    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q2.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1  # the late ping, counted by the engine itself
    rows = {
        (r["bucket_start"], r["codigo_linha"]): r["n_pings"]
        for r in spark.read.parquet(out).collect()
    }
    # bucket A emitted exactly once, with only the on-time ping; the
    # still-open 2 h bucket has not emitted
    assert rows == {(T0, 10): 1}


@pytest.mark.sweep
def test_chained_stateful_speed_window_agg(spark, tmp_path):
    """Two stateful operators chained in ONE streaming query: the
    applyInPandasWithState online lag feeding a watermarked 30-min window
    aggregation.  The window emits (append mode) once the watermark —
    advanced by a later file in a later micro-batch — passes its end."""
    import os

    from pyspark.sql import functions as F

    d = tmp_path / "chain_raw"
    d.mkdir()
    # The watermark tracker sits downstream of the cleaning filters, so it
    # only observes SURVIVING pairs — trailing pings must keep gaps ≤ 600 s
    # to carry the watermark past the window end.  Two extra beats: one to
    # push the watermark beyond T0+1800, one more because eviction uses the
    # batch-START watermark (one batch of lag) and availableNow runs no
    # final flush batch.
    stamps = [T0 + 60 * i for i in range(5)] + [
        T0 + 840, T0 + 1440, T0 + 2040, T0 + 2640
    ]
    for i, ts in enumerate(stamps):
        doc = _doc([(1, 10, _iso(ts), -23.60 - 0.0001 * i, -46.60)])
        p = d / f"data_{i}.json"
        p.write_text(json.dumps(doc))
        os.utime(p, (ts, ts))

    speeds = stream_speeds(
        stream_raw_posicoes(spark, str(d), max_files_per_trigger=1)
    )
    agg = (
        speeds.withColumn(
            "event_time", F.timestamp_seconds(F.col("timestamp"))
        )
        .withWatermark("event_time", "10 seconds")
        .groupBy(F.window("event_time", "30 minutes"), "codigo_linha")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            F.unix_timestamp("window.start").alias("bucket_start"),
            "codigo_linha",
            "n_pairs",
        )
    )
    _run_to_memory(agg, "chain_agg", "append")
    rows = spark.table("chain_agg").collect()
    # window [T0, T0+1800) holds 6 pairs (4 one-minute beats + the 840 and
    # 1440 pings at exactly-600 s gaps); it closes once the 2040 ping has
    # advanced the watermark and the 2640 batch performs the eviction
    assert [(r["bucket_start"], r["codigo_linha"], r["n_pairs"]) for r in rows] == [
        (T0, 10, 6)
    ]


@pytest.mark.sweep
def test_stream_speeds_matches_batch(spark, raw_dir):
    # one file per trigger → state must carry pairs ACROSS micro-batches
    sdf = stream_speeds(
        stream_raw_posicoes(spark, raw_dir, max_files_per_trigger=1)
    )
    _run_to_memory(sdf, "speed_stream", "append")
    got = (
        spark.table("speed_stream")
        .select(
            "prefixo_veiculo", "timestamp", "tempo", "distancia",
            "velocidade_media",
        )
        .orderBy("prefixo_veiculo", "timestamp")
        .collect()
    )
    batch = (
        speed.cleaned_speeds(ingest_posicoes(spark, raw_dir))
        .select(
            "prefixo_veiculo", "timestamp", "tempo", "distancia",
            "velocidade_media",
        )
        .orderBy("prefixo_veiculo", "timestamp")
        .collect()
    )
    assert len(got) == 4  # 2 vehicles × 2 pairs
    assert [tuple(r) for r in got] == [tuple(r) for r in batch]


@pytest.mark.sweep
def test_three_slice_replay_drops_oldest_quarter(spark, tmp_path):
    """Single-run two-watermark semantics (pins what the oracle's append
    branch of `streaming_interval_counts` relies on): with the events
    table staged as newest-half / second-quarter / oldest-quarter files
    (maxFilesPerTrigger=1), Spark's late-event filter — which lags the
    eviction watermark by one batch (eventTimeWatermarkForLateEvents) —
    lets the middle slice land but must drop the ENTIRE oldest quarter,
    and the engine's own numRowsDroppedByWatermark metric counts it."""
    import os

    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.registry_ingest import _stage_thirds_by_time

    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    pin_parquet_instant_confs(spark)
    src = "/root/testdata/sf0.001/events.parquet"
    schema = spark.read.parquet(src).schema
    # same dtype branch as the production path (registry_ingest.py):
    # ts is bigint only when the parquet stores TIMESTAMP(NANOS); the
    # driver's testdata stores timestamp[us], which needs no conversion
    ts_is_nanos = (
        dict((f.name, f.dataType.simpleString()) for f in schema).get("ts")
        == "bigint"
    )

    def _as_ts(df):
        if ts_is_nanos:
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    _stage_thirds_by_time(spark, src, stage)
    files = sorted(os.listdir(stage))
    assert files == ["events_0.parquet", "events_1.parquet",
                     "events_2.parquet"]
    oldest = spark.read.parquet(os.path.join(stage, "events_2.parquet"))
    # the StateStoreSave-side late filter runs AFTER partial aggregation,
    # so the engine's dropped metric counts (window, event_type) groups
    oldest_groups = (
        _as_ts(oldest)
        .select(F.window("ts", "30 minutes").alias("w"), "event_type")
        .distinct()
        .count()
    )
    assert oldest_groups > 0  # the late slice is non-trivial

    stream = _as_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("three_slice_dbg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
        per_batch = {
            p["batchId"]: sum(
                so["numRowsDroppedByWatermark"] for so in p["stateOperators"]
            )
            for p in q.recentProgress
        }
        # batches 0 and 1 drop nothing (late filter still at 0 /
        # two-batches-back); batch 2 drops the whole oldest quarter
        assert per_batch.get(0) == 0 and per_batch.get(1) == 0
        assert per_batch.get(2) == oldest_groups
        out = spark.table("three_slice_dbg")
        # nothing from the dropped slice was ever emitted: every emitted
        # window starts at/after the oldest quarter's cutoff bucket
        ns = (
            F.col("ts")
            if ts_is_nanos
            else F.unix_micros(F.col("ts")) * F.lit(1000)
        )
        lo, hi = spark.read.parquet(src).agg(
            F.min(ns), F.max(ns)
        ).first()
        cutlo_sec = (lo + (hi - lo) // 4) // 1_000_000_000
        min_start = out.agg(F.min(F.unix_timestamp("w.start"))).first()[0]
        assert min_start >= (cutlo_sec // 1800) * 1800
    finally:
        spark.catalog.dropTempView("three_slice_dbg")


@pytest.mark.sweep
def test_stream_sessionize_continues_across_batches(spark, tmp_path):
    """Session state survives micro-batch boundaries: a gap that spans
    two batches but stays within 1800 s must NOT open a new session,
    a cross-batch gap > 1800 s must, and a gap of EXACTLY 1800 s stays
    in-session (the batch twin's strict >)."""
    import os

    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.streaming.pipeline import stream_sessionize

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, s long"
        ).select(
            "event_id", "user_id",
            F.timestamp_micros(F.col("s") * 1_000_000).alias("ts"),
        )

    # batch A (older mtime), batch B (newer)
    batch_a = [(1, 1, 0), (2, 1, 1000), (10, 3, 0)]
    batch_b = [(3, 1, 1900), (4, 1, 5000), (5, 2, 42), (11, 3, 1800)]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i, rows in enumerate((batch_a, batch_b)):
        sub = str(tmp_path / f"stage{i}")
        mk(rows).coalesce(1).write.parquet(sub)
        import glob
        import shutil

        part = glob.glob(f"{sub}/part-*.parquet")[0]
        dst = f"{landing}/events_{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)

    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_xbatch")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        got = {
            r["event_id"]: r["session_idx"]
            for r in spark.table("sess_xbatch").collect()
        }
    finally:
        spark.catalog.dropTempView("sess_xbatch")
    assert got == {
        1: 1, 2: 1,   # user 1 session 1 (gap 1000)
        3: 1,         # cross-batch gap 900 — session CONTINUES
        4: 2,         # gap 3100 > 1800 — new session
        5: 1,         # user 2 first event
        10: 1, 11: 1,  # user 3: cross-batch gap EXACTLY 1800 — strict >
    }, got


def test_stream_sessionize_validation(spark):
    import pytest as _pytest

    from etl_olho_vivo_spark.streaming.pipeline import stream_sessionize

    df = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp"
    )
    with _pytest.raises(ValueError, match="gap_s"):
        stream_sessionize(df, gap_s=0)


def test_stream_sessionize_intra_second_inversion_matches_oracle(
    spark, tmp_path
):
    """The two-window corner the batch oracle defines: gap flags follow
    full-precision (ts, event_id) order while indices accumulate in
    (second, event_id) order.  With sub-second timestamps INVERTED vs
    event ids inside an equal-second run that sits on a session
    boundary, the flag lands on the id-later event and the cumulative
    sum assigns the boundary index by id order — the streaming operator
    must reproduce exactly that, not its own arrival-order reading."""
    import duckdb

    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.streaming.pipeline import stream_sessionize

    # user 1: event 1 at t=0; silence > 1800 s; then two events in the
    # SAME second with ts order inverted vs id order
    rows = [
        (1, 1, 0),            # ms
        (100, 1, 2000_900),   # +0.9 s inside second 2000
        (101, 1, 2000_500),   # +0.5 s — ts-earlier, id-later
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ms long"
    ).select(
        "event_id", "user_id",
        F.timestamp_micros(F.col("ms") * 1000).alias("ts"),
    )
    landing = str(tmp_path / "landing")
    df.coalesce(1).write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = (
        stream_sessionize(spark.readStream.schema(schema).parquet(landing))
        .writeStream.format("memory")
        .queryName("sess_inv")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        got = {
            r["event_id"]: r["session_idx"]
            for r in spark.table("sess_inv").collect()
        }
    finally:
        spark.catalog.dropTempView("sess_inv")

    want = dict(duckdb.execute("""
WITH e(event_id, user_id, ms) AS (VALUES (1,1,0),(100,1,2000900),(101,1,2000500)),
gaps AS (
  SELECT event_id, ms // 1000 AS s,
         CASE WHEN ms // 1000 - lag(ms // 1000)
                   OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800
              OR lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
                   IS NULL
              THEN 1 ELSE 0 END AS new_session,
         user_id
  FROM e
)
SELECT event_id, CAST(sum(new_session) OVER (
  PARTITION BY user_id ORDER BY s, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
FROM gaps
""").fetchall())
    assert want == {1: 1, 100: 1, 101: 2}  # the oracle's own corner
    assert got == want, (got, want)


def test_stream_sessionize_custom_tiebreaker_column(spark, tmp_path):
    """A non-default tiebreaker column must survive the projection into
    the stateful operator (it previously raised KeyError inside the
    executor on the first non-empty batch)."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.streaming.pipeline import stream_sessionize

    rows = [(1, 1, 0, 5), (2, 1, 100, 3)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, s long, prio long"
    ).select(
        "event_id", "user_id", "prio",
        F.timestamp_micros(F.col("s") * 1_000_000).alias("ts"),
    )
    landing = str(tmp_path / "landing")
    df.coalesce(1).write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = (
        stream_sessionize(
            spark.readStream.schema(schema).parquet(landing),
            tiebreakers=("prio", "event_id"),
        )
        .writeStream.format("memory")
        .queryName("sess_tb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        got = {
            r["event_id"]: r["session_idx"]
            for r in spark.table("sess_tb").collect()
        }
    finally:
        spark.catalog.dropTempView("sess_tb")
    assert got == {1: 1, 2: 1}, got


