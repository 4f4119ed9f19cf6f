"""Streaming → Delta sink with exactly-once semantics.

Structured Streaming's ``foreachBatch`` gives at-least-once delivery: a
failed/restarted query re-runs micro-batches. Delta's answer (and ours)
is the protocol's SetTransaction action: every sink commit carries
``{"txn": {appId, version=batch_id}}``; on replay the sink consults
``DeltaTable.last_txn_version(app_id)`` and skips batch ids already
committed — the commit and the watermark advance in ONE atomic log
entry, so a crash between "write data" and "record progress" cannot
double-apply a batch.

The reference has no streaming ingestion surface (its writes are
explicit calls, SURVEY §2.10); this is engine-native Spark-first
composition: watermarked/windowed/sessionized streams from
``streaming/windowed.py`` land in a Delta table that the rest of the
engine (CDC, MVs, maintenance) can see.

Scale shape: each micro-batch is one distributed write job (the driver
only stamps the log); upsert mode routes through the same MERGE used by
batch DML, rewriting only files containing matched keys.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

if TYPE_CHECKING:  # pragma: no cover
    from deltalake_spark.delta.table import DeltaTable

__all__ = ["delta_stream_sink", "minhash_stream_dedup_sink",
           "mg_stream_summary_sink"]


def delta_stream_sink(
    stream: DataFrame,
    table: "DeltaTable",
    *,
    app_id: str,
    mode: str = "append",
    merge_keys: list[str] | None = None,
    merge_update: Mapping[str, Any] | str | None = "*",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool = True,
) -> StreamingQuery:
    """Run a streaming DataFrame into a Delta table via ``foreachBatch``.

    ``mode="append"``: exactly-once — each batch commit embeds a
    SetTransaction (``txn``) watermark and replayed batch ids are
    skipped.

    ``mode="upsert"``: MERGE on ``merge_keys`` per batch. MERGE is
    idempotent for deterministic batches (re-upserting identical rows
    reproduces the same state), giving effective exactly-once without a
    txn stamp.
    """
    if mode not in ("append", "upsert"):
        raise ValueError(f"unsupported sink mode {mode!r}")
    if mode == "upsert" and not merge_keys:
        raise ValueError("upsert mode requires merge_keys")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if mode == "append":
            if batch_id <= table.last_txn_version(app_id):
                return  # replayed batch — already committed atomically
            table.write(
                batch_df,
                _extra_actions=[{
                    "txn": {"appId": app_id, "version": int(batch_id)}
                }],
            )
        else:
            if not table.exists() or not batch_df.columns:
                table.write(batch_df)
                return
            cond = " AND ".join(f"t.{k} <=> s.{k}" for k in merge_keys)
            table.merge(batch_df, cond,
                        when_matched_update=merge_update)

    writer = stream.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if await_termination and available_now:
        q.awaitTermination()
    return q


def minhash_stream_dedup_sink(
    stream: DataFrame,
    index: "DeltaTable",
    decisions: "DeltaTable",
    *,
    id_col: str,
    text_col: str,
    app_id: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 42,
    shingle_mode: str = "word",
    hash_mode: str = "native",
    max_bucket: int = 1000,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming ingest dedup against a persisted MinHash index — the
    full production composition: documents arrive as micro-batches;
    each batch probes the index (batch-only signature work), its
    keep/drop decisions land in ``decisions``, and the KEPT (is_new)
    docs' band keys append to ``index`` — so batch N+1 dedups against
    batch N without any reprocessing. This is what
    ``minhash_dedup_incremental`` (one nightly batch) becomes when the
    ingest is continuous.

    Exactly-once across TWO tables: each table carries its own
    SetTransaction watermark under ``app_id`` (index appends under
    ``app_id + \"-index\"``), and the probe EXCLUDES index entries
    whose id is in the current batch — so a crash between the index
    append and the decisions write replays to identical decisions
    (the batch's own just-appended keys can never match themselves).
    Within-batch duplicates are both admitted by design: intra-batch
    dedup is ``minhash_lsh_candidates``' job upstream; this operator
    owns batch-vs-history.

    Probe parameters must match the index's pinned config (fails loud
    otherwise, the ``minhash_index_write`` contract).
    """
    from pyspark.sql import functions as F

    from deltalake_spark.operators.dedup import (
        _MINHASH_INDEX_CONF,
        _minhash_index_params,
        minhash_band_keys,
        minhash_dedup_incremental,
    )
    from deltalake_spark.operators.iterative import _release_local_checkpoint

    params = _minhash_index_params(
        num_hashes=num_hashes, bands=bands, shingle_size=shingle_size,
        seed=seed, shingle_mode=shingle_mode, hash_mode=hash_mode,
        id_col=id_col,
    )
    stored = (index.snapshot().configuration or {}).get(
        _MINHASH_INDEX_CONF)
    if stored is not None and stored != params:
        raise ValueError(
            f"minhash_stream_dedup_sink: index was built with {stored}, "
            f"stream configured {params} — signatures under different "
            f"parameters are not comparable")
    kw = dict(id_col=id_col, text_col=text_col, num_hashes=num_hashes,
              bands=bands, shingle_size=shingle_size, seed=seed,
              shingle_mode=shingle_mode, hash_mode=hash_mode)
    index_app = app_id + "-index"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # two pins, both released when the trigger ends: the batch's
        # band keys (derived once, read by the probe AND the index
        # append) and the decisions (read by both writes below)
        bkeys = res = None
        try:
            bkeys = minhash_band_keys(batch_df, **kw).localCheckpoint(
                eager=True)
            ids = batch_df.select(F.col(id_col))
            idx_df = index.to_df().join(ids, id_col, "left_anti")
            res = minhash_dedup_incremental(
                batch_df, idx_df, max_bucket=max_bucket, batch_keys=bkeys,
                **kw,
            ).localCheckpoint(eager=True)
            if batch_id > index.last_txn_version(index_app):
                kept = res.filter("is_new").select(id_col)
                index.write(
                    bkeys.join(kept, id_col, "left_semi"),
                    partition_by=["band"],
                    _extra_actions=[{
                        "txn": {"appId": index_app,
                                "version": int(batch_id)}
                    }],
                )
            if batch_id > decisions.last_txn_version(app_id):
                decisions.write(
                    res,
                    _extra_actions=[{
                        "txn": {"appId": app_id, "version": int(batch_id)}
                    }],
                )
        finally:
            for pinned in (res, bkeys):
                if pinned is not None:
                    _release_local_checkpoint(pinned)

    writer = stream.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def mg_stream_summary_sink(
    stream: DataFrame,
    summary: "DeltaTable",
    *,
    col: str,
    count_col: str = "mg_count",
    capacity: int = 256,
    app_id: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming Misra-Gries heavy hitters: maintain ONE bounded
    (≤ capacity counters) frequency summary across micro-batches — the
    trending-terms / hot-keys monitor that runs unbounded where exact
    streaming counts grow state with the vocabulary. Each batch's
    exact counts merge into the persisted summary via
    :func:`operators.sketches.mg_merge_summaries` (Agarwal et al.
    PODS'12 mergeable-summaries rule), preserving the classic MG
    guarantee over EVERYTHING streamed so far:
    ``true − N/(capacity+1) ≤ reported ≤ true``.

    Exactly-once: the summary table is read-merge-OVERWRITTEN per
    batch with a SetTransaction watermark, so a replayed batch id is
    skipped — and because the merge input is materialized (KB-sized
    collect) before the overwrite commits, a crash mid-batch replays
    to the identical summary. State is capacity rows regardless of
    stream length; per batch the raw data is touched once (the
    batch-count aggregate).
    """
    from pyspark.sql import functions as F

    from deltalake_spark.operators.sketches import mg_merge_summaries

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= summary.last_txn_version(app_id):
            return  # replayed batch — already merged atomically
        spark = batch_df.sparkSession
        counts = batch_df.groupBy(col).agg(
            F.count(F.lit(1)).alias(count_col))
        # summary schema follows the stream's key type (long item ids
        # stay long — a hardcoded string key would coerce or fail on
        # the createDataFrame/write path)
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType([
            StructField(col, batch_df.schema[col].dataType),
            StructField(count_col, LongType()),
        ])
        if summary.exists():
            prev = summary.to_df().select(col, count_col)
        else:
            prev = spark.createDataFrame([], schema)
        merged = mg_merge_summaries(
            prev, counts, col=col, count_col=count_col,
            capacity=capacity)
        # materialize (<= capacity rows) BEFORE overwriting the table
        # the plan reads from
        rows = merged.collect()
        out = spark.createDataFrame(rows, schema) if rows else \
            spark.createDataFrame([], schema)
        summary.write(
            out, mode="overwrite",
            _extra_actions=[{
                "txn": {"appId": app_id, "version": int(batch_id)}
            }],
        )

    writer = stream.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
