"""Streaming mode (SURVEY §2.9, build-plan phase 4).

The reference emulates streaming with clock-scheduled micro-batches
(EventBridge → Lambda polls ``/Posicao``; daily 6:00/6:30 batch jobs,
``README.md:13,22``).  The engine's continuous mode is Structured
Streaming over the same raw JSON zone:

- **source** — ``readStream`` file source with the explicit nested schema;
  new objects dropped by the poller are discovered incrementally (the
  streaming analogue of the reference's hour-partitioned key layout,
  ``get-bus-data.py:64-65``).
- **flatten** — the SAME ``flatten_posicoes`` plan as batch (explode ×2 is
  streaming-compatible); one code path, two execution modes.
- **30-min windows** — ``F.window`` over the event-time instant with a
  watermark: the declarative replacement for "the 6:30 job covers
  yesterday" (late pings beyond the watermark are dropped *explicitly*
  rather than silently landing in the wrong daily file).  The
  ``streaming_interval_counts`` registry row (``registry_ingest.py``)
  runs this aggregation in complete and watermarked append mode under
  the DuckDB oracle.
- **online lag** — the per-vehicle previous-ping state
  (``etl-olho-vivo-velocidades-medias.py:101-103``) becomes
  ``applyInPandasWithState`` keyed by ``prefixo_veiculo`` holding the last
  ping; each incoming ping emits its (previous, current) pair.  Downstream
  speed math stays in JVM Column expressions.

Scale notes: state is one tiny row per vehicle (10⁴-10⁵ keys city-wide) —
negligible next to shuffle; the stateful exchange hash-partitions by
vehicle exactly like the batch window.  Pings arriving out of order
*across* micro-batches pair in arrival order (documented deviation from
the batch sort).  The PAIRING path itself carries no watermark — no
event-time bound evicts or gates the per-vehicle state (NoTimeout); what
bounds the damage from a stale replay is the downstream ≤600 s gap
filter, which drops any pair whose members are far apart in event time.
Watermarks apply to windowed aggregations, where late data is actually
dropped.

API pin — ``applyInPandasWithState`` vs Spark 4 ``transformWithState``:
this runtime (PySpark 4.1.2) ships both, and ``transformWithStateInPandas``
(StatefulProcessor + ValueState) is the forward API — timers, TTL, multiple
state variables, initial state.  It is pinned OFF here because its Python
state-server protocol requires the ``google.protobuf`` package, which is
absent from this environment (no installs permitted): a minimal
StatefulProcessor probe fails at query start with
``STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE … ImportError: cannot
import name 'descriptor' from 'google.protobuf'`` before any user code
runs.  ``applyInPandasWithState`` uses the Arrow-only worker protocol and
needs no protobuf.  Migration path when protobuf is available: the
``pair_fn`` closure maps 1:1 onto ``StatefulProcessor.handleInputRows``
with ``handle.getValueState("last_ping", _STATE_SCHEMA)`` replacing
``state.get/update``, ``timeMode="none"`` replacing
``GroupStateTimeout.NoTimeout``, and the RocksDB state-store provider
enabled (TWS requires it); semantics above are unchanged.  Pin
re-checked rounds 5-7 (``import google.protobuf`` still fails) — re-run
that probe each round and migrate when it succeeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from etl_olho_vivo_spark.io.flatten import flatten_posicoes
from etl_olho_vivo_spark.schemas import RAW_POSICAO_SCHEMA


def stream_raw_posicoes(
    spark: SparkSession, raw_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming source + flatten: raw JSON zone → unbounded posicoes."""
    reader = (
        spark.readStream.schema(RAW_POSICAO_SCHEMA)
        .option("mode", "PERMISSIVE")
        # pin the quarantine column explicitly (same as the batch reader,
        # io/flatten.py): a session-level columnNameOfCorruptRecord
        # override would otherwise send corrupt payloads to a column the
        # schema lacks, turning them into silent all-null rows
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return flatten_posicoes(reader.json(raw_dir))


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("prefixo_veiculo", T.LongType()),
        T.StructField("codigo_linha", T.LongType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("px", T.DoubleType()),
        T.StructField("py", T.DoubleType()),
        T.StructField("timestamp_anterior", T.LongType()),
        T.StructField("px_anterior", T.DoubleType()),
        T.StructField("py_anterior", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("px", T.DoubleType()),
        T.StructField("py", T.DoubleType()),
    ]
)


def stream_ping_pairs(
    pos: DataFrame,
    tiebreakers: tuple[str, ...] = (),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Online W1: consecutive-ping pairs per vehicle via keyed state.

    Each vehicle's state is its last ping; every new ping emits one pair
    row (first ping emits none — P4 for free).  ``tiebreakers`` orders
    equal-timestamp pings deterministically *within* a micro-batch (the
    batch window's ORDER BY twin; cross-batch arrival order stands, see
    module docstring).  ``carry`` columns from ``pos`` pass through onto
    each emitted pair row (e.g. a row-identity column for parity checks).
    The shipped closure is fully self-contained: Spark's Python workers
    don't have this package on their path.
    """
    carry_fields = [pos.schema[c] for c in carry]
    out_schema = T.StructType([*_PAIR_SCHEMA.fields, *carry_fields])
    sort_keys = ["timestamp", *tiebreakers]
    carry_cols = list(carry)

    def pair_fn(key, pdf_iter, state):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (veh,) = key
        if state.exists:
            last_ts, last_px, last_py = state.get
        else:
            last_ts, last_px, last_py = None, None, None
        # One global in-batch sort: chunk-local sorting would leak Arrow
        # batch boundaries into the pairing order on equal timestamps.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        pdf = (
            pd.concat(chunks).sort_values(sort_keys, kind="stable")
            if chunks
            else None
        )
        out = []
        if pdf is not None:
            for r in pdf.itertuples(index=False):
                if last_ts is not None:
                    out.append(
                        (
                            veh, r.codigo_linha, r.timestamp, r.px, r.py,
                            last_ts, last_px, last_py,
                            *[getattr(r, c) for c in carry_cols],
                        )
                    )
                last_ts, last_px, last_py = r.timestamp, r.px, r.py
        state.update((last_ts, last_px, last_py))
        yield pd.DataFrame(
            out,
            columns=[
                "prefixo_veiculo", "codigo_linha", "timestamp", "px", "py",
                "timestamp_anterior", "px_anterior", "py_anterior",
                *carry_cols,
            ],
        )

    return pos.filter(F.col("timestamp").isNotNull()).groupBy(
        "prefixo_veiculo"
    ).applyInPandasWithState(
        pair_fn,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_speeds(
    pos: DataFrame, tiebreakers: tuple[str, ...] = ()
) -> DataFrame:
    """Online cleaned speeds: stateful pairs → JVM-side speed math.

    Applies the LITERALLY same cleaning chain as batch
    (``speed.clean_pairs`` — one definition, both execution modes); the
    Python stage only pairs pings, all math stays in codegen.
    ``tiebreakers`` orders equal-timestamp pings deterministically within
    a micro-batch (the streaming twin of the batch path's tiebreakers in
    ``plans/daily.py``).
    """
    from etl_olho_vivo_spark.operators.speed import clean_pairs

    return clean_pairs(stream_ping_pairs(pos, tiebreakers=tiebreakers))


_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("session_idx", T.LongType()),
    ]
)

_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_s", T.LongType()),
        T.StructField("session_idx", T.LongType()),
    ]
)


def stream_sessionize(
    events: DataFrame,
    gap_s: int = 1800,
    tiebreakers: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Online gap sessionization: the streaming twin of the batch
    ``sessionize_events`` cumulative-sum window (registry_relational.py),
    keyed by ``user_id`` with (last event second, session counter) state.

    An event starts a NEW session when the user has no state yet or
    the gap in SECONDS since their previous event (previous under the
    full-precision (ts, tiebreakers) order) exceeds ``gap_s`` (strict
    ``>``, the batch twin's rule).  The per-event index is then the
    cumulative count of new-session flags under the (s, tiebreakers)
    order — the batch query's EXACT two-window construction (gap flags
    over ORDER BY ts, indices over ORDER BY s), replicated because the
    two orders can disagree inside an equal-second run that sits on a
    session boundary: with sub-second timestamps inverted vs the
    tiebreaker, the flag can land on the tiebreaker-LATER event and the
    cumulative sum then assigns the boundary index by tiebreaker order,
    not arrival order.  Cross-batch, state carries (last event second,
    session counter) so sessions CONTINUE across micro-batch
    boundaries; out-of-order arrival across batches sessionizes in
    arrival order (the same documented deviation as the lag pairing
    above — Spark's own ``session_window`` aggregate is the
    watermark-governed alternative when late regrouping matters more
    than per-event indices).

    Scale: state is two longs per user; the stateful exchange
    hash-partitions by user exactly like the batch window, and no
    per-user history is ever retained beyond the last second seen.
    """
    if gap_s <= 0:
        raise ValueError(f"gap_s must be positive, got {gap_s}")
    ts_sort = ["ts_ms", *tiebreakers]
    s_sort = ["s", *tiebreakers]

    def session_fn(key, pdf_iter, state):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (uid,) = key
        last_s, idx = state.get if state.exists else (None, 0)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        out = []
        if chunks:
            pdf = pd.concat(chunks).sort_values(ts_sort, kind="stable")
            flags = []
            for r in pdf.itertuples(index=False):
                flags.append(
                    1 if last_s is None or r.s - last_s > gap_s else 0
                )
                last_s = int(r.s)
            pdf = pdf.assign(nsflag=flags).sort_values(
                s_sort, kind="stable"
            )
            run = idx
            for r in pdf.itertuples(index=False):
                run += r.nsflag
                out.append((r.event_id, uid, run))
            idx += sum(flags)
            state.update((last_s, idx))
        yield pd.DataFrame(
            out, columns=["event_id", "user_id", "session_idx"]
        )

    extra = [
        c for c in tiebreakers
        if c not in ("event_id", "user_id", "s", "ts_ms")
    ]
    src = events.select(
        "user_id",
        "event_id",
        F.expr("unix_millis(ts)").alias("ts_ms"),
        F.expr("unix_millis(ts) div 1000").alias("s"),
        *extra,
    ).filter(F.col("s").isNotNull())
    return src.groupBy("user_id").applyInPandasWithState(
        session_fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
