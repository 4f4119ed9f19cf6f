"""Structured Streaming operators: watermarked windowed aggregation and
stateful sessionization.

The reference's only stream abstraction is the CDC change feed (ordered
records per commit version, /root/reference/src/cdc/index.ts:38-128); it
has no watermarks, windows, or stateful operators (SURVEY §2.10). These
are engine-native additions built on Structured Streaming:

- ``windowed_agg`` — event-time tumbling windows with a watermark for
  late-data handling; state is bounded by the watermark, so the operator
  runs indefinitely at any scale.
- ``stateful_sessions`` — gap-based sessionization over
  ``applyInPandasWithState``: per-key state (current session start/last/
  count) survives micro-batch boundaries; closed sessions are emitted
  exactly once regardless of how the input is split into batches.
- ``run_available_now`` — drains all currently-available input through a
  streaming query into an in-memory sink and returns the batch result;
  this is how the driver's batch-shaped contract exercises the streaming
  path.
"""

from __future__ import annotations

import threading
import uuid
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: parquet file path -> temp directory holding a symlink to it
_STAGED_FILE_SOURCES: dict[str, str] = {}

# Serializes every run_available_now drain: the session-wide conf
# overrides it applies (shuffle partitions, noDataMicroBatches) would
# otherwise leak into a drain started concurrently on the same
# SparkSession from another thread (e.g. tools/check_oracle.py's
# ThreadPoolExecutor), which can silently drop watermark-flushed rows.
_DRAIN_LOCK = threading.Lock()

__all__ = [
    "read_parquet_stream",
    "stream_stream_interval_join",
    "windowed_agg",
    "session_windows",
    "stateful_sessions",
    "stateful_cusum",
    "run_available_now",
]


def read_parquet_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None,
    nanos_cols: Iterable[str] = ("ts",),
) -> DataFrame:
    """Open a parquet file/directory as a stream (schema from
    ``session.parquet_schema`` — Structured Streaming requires an
    explicit schema).

    Columns named in ``nanos_cols`` that surface as timestamps are
    normalized to long epoch-nanoseconds so downstream operators can rely
    on the integer-ns domain regardless of how this Spark version reads
    parquet TIMESTAMP(NANOS) (see session.ts_to_long_nanos).
    """
    import os
    import tempfile

    from deltalake_spark.session import parquet_schema, ts_to_long_nanos

    # the schema comes from the session's per-content schema cache, so a
    # repeated drain of an unchanged source skips the inference job
    schema = parquet_schema(spark, path)
    src_path = path
    if os.path.isfile(path):
        # FileStreamSource requires a directory source (it forces the
        # source path as basePath); stage a symlink to the file in a
        # temp dir, once per path: the link follows the file's content
        target = os.path.abspath(path)
        src_path = _STAGED_FILE_SOURCES.get(target)
        if src_path is None or not os.path.exists(src_path):
            src_path = tempfile.mkdtemp(prefix="pqstream_")
            os.symlink(target, os.path.join(src_path, os.path.basename(path)))
            _STAGED_FILE_SOURCES[target] = src_path
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_path)
    for c in nanos_cols:
        stream = ts_to_long_nanos(stream, c)
    return stream


def windowed_agg(
    stream: DataFrame,
    *,
    time_col: str,
    window: str,
    watermark: str,
    group_cols: Iterable[str] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Tumbling-window aggregation with a watermark.

    ``aggs`` maps output name → SQL aggregate expression (evaluated with
    the window's rows in scope). The watermark bounds streaming state:
    windows older than max(event time) - watermark are finalized and
    dropped, which is what makes this run forever on an unbounded stream.
    """
    aggs = aggs or {"n": "count(*)"}
    exprs = [F.expr(sql).alias(name) for name, sql in aggs.items()]
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window), *group_cols)
        .agg(*exprs)
    )


def session_windows(
    stream: DataFrame,
    *,
    time_col: str,
    gap: str,
    watermark: str,
    group_cols: Iterable[str] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Gap-based sessionization via the built-in ``session_window``
    (merging-window state store — no Python workers, unlike
    :func:`stateful_sessions`).

    In append mode a session is emitted exactly once, when the watermark
    passes its end (``last event + gap``); under an availableNow drain
    the final no-data micro-batch flushes every session whose end ≤
    ``max(event time) − watermark``, so the result is deterministic for
    a fixed input. Note Spark floors the tracked max event time to whole
    milliseconds when computing the watermark — an oracle must replicate
    ``(floor(max_us/1000) − delay_ms) * 1000`` to match the emission
    cutoff exactly.

    The output keeps ``session_window.start`` / ``.end`` as columns named
    ``session_start`` / ``session_end``.
    """
    aggs = aggs or {"n": "count(*)"}
    exprs = [F.expr(sql).alias(name) for name, sql in aggs.items()]
    win = (
        stream.withWatermark(time_col, watermark)
        .groupBy(*group_cols, F.session_window(time_col, gap))
        .agg(*exprs)
    )
    return win.select(
        *group_cols,
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *aggs.keys(),
    )


_SESSION_SCHEMA = (
    "user_id long, session_seq long, n_events long, span_s double"
)
_STATE_SCHEMA = "start_ts long, last_ts long, n long, sid long"


def _session_func(gap_ns: int):
    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            start_ts, last_ts, n, sid = state.get
        else:
            start_ts, last_ts, n, sid = (None, None, 0, 0)
        out: list[tuple[int, int, int, float]] = []
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        for ts in rows["ts"]:
            ts = int(ts)
            if last_ts is None:
                sid, start_ts, last_ts, n = sid + 1, ts, ts, 1
            elif ts - last_ts > gap_ns:
                out.append((user_id, sid, n, (last_ts - start_ts) / 1e9))
                sid, start_ts, last_ts, n = sid + 1, ts, ts, 1
            else:
                last_ts, n = ts, n + 1
        state.update((start_ts, last_ts, n, sid))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "session_seq", "n_events", "span_s"]
            )

    return fn


def stateful_sessions(
    stream: DataFrame,
    *,
    key: str = "user_id",
    gap_ns: int = 1_800_000_000_000,
) -> DataFrame:
    """Gap-based sessionization with cross-batch state.

    Emits each CLOSED session exactly once (a session closes when a later
    event of the same key arrives past the gap). The key's final open
    session stays in state and is never emitted — on a real unbounded
    stream it would close eventually; ``run_available_now`` drains only
    what is closable from the available data, deterministically however
    the input is batched.

    Requires numeric event-time (``ts`` long nanos) and an ``event_id``
    tiebreak column, matching the fixtures.
    """
    return stream.groupBy(key).applyInPandasWithState(
        _session_func(gap_ns),
        outputStructType=_SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CUSUM_STATE = "s long, mins long, alarmed boolean"


def _cusum_func(target_units: int, threshold_units: int, *,
                key_col: str, value_units_col: str, time_col: str,
                tiebreak_col: str):
    out_cols = [key_col, time_col, "cusum_units"]

    def fn(key, pdfs, state):
        (kval,) = key
        if state.exists:
            s_run, mins, alarmed = state.get
        else:
            s_run, mins, alarmed = 0, 0, False
        rows = pd.concat(list(pdfs)).sort_values([time_col, tiebreak_col])
        out = []
        for ts, units in zip(rows[time_col], rows[value_units_col]):
            s_run += int(units) - target_units
            mins = min(mins, s_run)
            cusum = s_run - min(mins, 0)
            if cusum > threshold_units:
                if not alarmed:
                    out.append((kval, int(ts), cusum))
                    alarmed = True
            else:
                alarmed = False
        state.update((s_run, mins, alarmed))
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return fn


def stateful_cusum(
    stream: DataFrame,
    *,
    key: str = "event_type",
    value_units_col: str = "__units",
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
    target_units: int,
    threshold_units: int,
) -> DataFrame:
    """Streaming one-sided CUSUM drift monitor with cross-batch state
    (`applyInPandasWithState`) — the production shape of
    :func:`operators.timeseries.cusum_changepoint`: per key, maintain
    the EXACT integer pair ``(S, min S)`` (the reset recursion's
    prefix-sum closed form) and emit one row per UPWARD alarm
    crossing (re-armed after the statistic falls back under the
    threshold). State is three scalars per key — O(|keys|), runs
    unbounded.

    Determinism: rows are processed per key in (``time_col``,
    ``tiebreak_col``) order within each micro-batch; with in-order
    batch boundaries (the availableNow single-file drain, or an
    upstream ordered source) the emitted crossings are the exact
    batch closed-form crossings, so the DuckDB twin is value-level.
    ``value_units_col`` must be an integer units column (e.g. rounded
    cents); ``time_col`` must be long nanos. The output schema is
    derived from the stream: ``(key as its stream type, time_col
    long, cusum_units long)``.
    """
    fields = {f.name: f.dataType.simpleString()
              for f in stream.schema.fields}
    missing = [c for c in (key, value_units_col, time_col, tiebreak_col)
               if c not in fields]
    if missing:
        raise ValueError(f"stateful_cusum: stream is missing column(s) "
                         f"{missing}; have {sorted(fields)}")
    out_schema = f"{key} {fields[key]}, {time_col} long, cusum_units long"
    return stream.groupBy(key).applyInPandasWithState(
        _cusum_func(int(target_units), int(threshold_units),
                    key_col=key, value_units_col=value_units_col,
                    time_col=time_col, tiebreak_col=tiebreak_col),
        outputStructType=out_schema,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: tuple[str, str],
    left_time: str,
    right_time: str,
    lower_ns: int,
    upper_ns: int,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: left rows within
    ``[right_time + lower_ns, right_time + upper_ns)`` of each right row,
    equi-keyed on ``on``.

    Both sides carry watermarks and the time-range predicate bounds the
    join state: Spark evicts left rows once the right watermark passes
    ``left_time - lower_ns`` and vice versa, so state is
    O(rate × (watermark + range)) — this runs forever on unbounded
    streams, unlike a batch interval join re-run per refresh.

    Event-time columns must be long nanos (fixture domain); they are
    projected to real timestamps internally because Spark's state
    eviction reasons over TimestampType watermarks only. The timestamp
    range condition is WIDENED to a superset (floor-division µs bounds,
    +2 µs on the upper edge) purely for state eviction; the exact
    nanosecond range is enforced by a residual predicate on the raw long
    columns, so same-microsecond pairs keep exact semantics. One
    equi-key (conditioned) stream join, no cartesian.
    """
    lkey, rkey = on
    lt = F.timestamp_micros(F.expr(f"{left_time} div 1000"))
    rt = F.timestamp_micros(F.expr(f"{right_time} div 1000"))
    lw = left.withColumn("__lt", lt).withWatermark("__lt", watermark)
    rw = right.withColumn("__rt", rt).withWatermark("__rt", watermark)
    # floor(a+b) >= floor(a)+floor(b) makes the lower µs bound already a
    # superset; the upper needs +2 µs (floor(a+b) <= floor(a)+floor(b)+1)
    lo_us = lower_ns // 1000
    hi_us = upper_ns // 1000 + 2
    cond = (
        (F.col(lkey) == F.col(rkey))
        # event-time *timestamp* range: what the state-eviction analyzer
        # reasons over (it ignores raw-long predicates)
        & (F.col("__lt") >= F.col("__rt")
           + F.expr(f"INTERVAL {lo_us} MICROSECOND"))
        & (F.col("__lt") < F.col("__rt")
           + F.expr(f"INTERVAL {hi_us} MICROSECOND"))
        # exact ns-domain semantics
        & (F.col(left_time) >= F.col(right_time) + F.lit(lower_ns))
        & (F.col(left_time) < F.col(right_time) + F.lit(upper_ns))
    )
    return lw.join(rw, cond, "inner").drop("__lt", "__rt")


def stream_dedup(
    stream: DataFrame,
    *,
    key_cols: Iterable[str],
    time_col: str,
    watermark: str,
) -> DataFrame:
    """Exactly-once streaming deduplication: emit each key's FIRST
    arrival, drop replays, via ``dropDuplicatesWithinWatermark``. The
    watermark bounds state to keys seen within the horizon — unlike
    plain ``dropDuplicates`` on a stream, whose key state grows with
    the full stream history, this runs forever on an unbounded source
    (at-least-once upstream delivery -> exactly-once downstream, the
    standard Kafka-replay / file-redelivery cleanup). Rows are emitted
    immediately (append mode, no window holdback)."""
    return stream.withWatermark(
        time_col, watermark
    ).dropDuplicatesWithinWatermark(list(key_cols))


def run_available_now(
    sdf: DataFrame, *, output_mode: str = "append",
    shuffle_partitions: int | None = None,
    no_data_batch: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion over available input via
    the memory sink; return the materialized batch result.

    ``shuffle_partitions`` temporarily overrides
    ``spark.sql.shuffle.partitions`` for the drain: stateful operators
    create one state-store instance per shuffle partition PER
    micro-batch, so a tiny-state query (e.g. a few hundred windows)
    pays 32 store load/commit cycles per batch for nothing — 8 is
    plenty below multi-GB state. ``no_data_batch=False`` skips the
    trailing no-data micro-batch; ONLY safe for complete-mode sinks,
    where emission doesn't wait on the watermark (append-mode session/
    window flushes need that final batch — keep the default there).
    Both confs are restored after the drain. All drains serialize on a
    module lock: the overrides are session-wide SQLConf mutations, so a
    drain started concurrently on the same session from another thread
    (tools/check_oracle.py runs registry queries in a ThreadPoolExecutor)
    could otherwise inherit ``noDataMicroBatches=false`` mid-flight and
    skip the trailing no-data batch that flushes watermarked state —
    nondeterministic missing rows. Streaming drains are a small fraction
    of the registry, so the serialization cost is a few seconds.
    """
    spark = sdf.sparkSession
    restore: dict[str, str] = {}
    overrides: dict[str, str] = {}
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if not no_data_batch:
        overrides["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _DRAIN_LOCK:
        try:
            for k, v in overrides.items():
                restore[k] = spark.conf.get(k)
                spark.conf.set(k, v)
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            for k, v in restore.items():
                spark.conf.set(k, v)
    return sdf.sparkSession.table(name)
