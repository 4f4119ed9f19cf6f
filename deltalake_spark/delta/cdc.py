"""Change Data Feed: CDC record storage and readers.

Record format mirrors Delta CDF / the reference's DeltaCDCRecord
(/root/reference/src/cdc/index.ts:105-128): data columns plus
``_change_type`` ∈ {insert, update_preimage, update_postimage, delete},
``_commit_version`` (long) and ``_commit_timestamp`` (timestamp).

Storage layout (reference writeCDCFile, src/cdc/index.ts:2319-2359 — we
keep the version-addressed path, dropping the redundant date-partitioned
duplicate):

    <table>/_change_data/cdc-<20-digit-version>-<uuid>.parquet

Dual-format parity with the reference's parseCDCFile
(src/cdc/index.ts:1462-1558): Parquet is the default WRITE format;
setting table configuration ``delta.cdc.writeFormat=json`` writes
NDJSON change files instead (the reference's internal format), and the
read path accepts any mix of the two regardless of who wrote them.
"""

from __future__ import annotations

import datetime as _dt
import glob
import os
import re
import uuid
from typing import TYPE_CHECKING, Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    from deltalake_spark.delta.table import DeltaTable

_CDC_RE = re.compile(r"cdc-(\d{20})-[0-9a-f]+\.(parquet|json)$")


def _cdc_dir(table: "DeltaTable") -> str:
    return os.path.join(table.path, "_change_data")


def cdc_schema(table: "DeltaTable") -> StructType:
    """Schema of the change feed: the table's columns, then
    ``_change_type``, ``_commit_version`` and ``_commit_timestamp``."""
    return table.schema() \
        .add("_change_type", "string") \
        .add("_commit_version", "long") \
        .add("_commit_timestamp", "timestamp")


def write_cdc_file(
    table: "DeltaTable", df: DataFrame, version: int,
    configuration: "Mapping[str, str]",
) -> None:
    """Persist CDC records for one commit. ``df`` must carry data columns
    + ``_change_type``; version/timestamp columns are stamped here.
    Format follows ``delta.cdc.writeFormat`` (parquet | json) in
    ``configuration``, the table's as of the commit's snapshot."""
    fmt = configuration.get("delta.cdc.writeFormat", "parquet")
    if fmt not in ("parquet", "json"):
        raise ValueError(f"unsupported delta.cdc.writeFormat {fmt!r}")
    out_dir = _cdc_dir(table)
    os.makedirs(out_dir, exist_ok=True)
    stamped = (
        df.withColumn("_commit_version", F.lit(version).cast("long"))
        .withColumn("_commit_timestamp", F.current_timestamp())
    )
    staging = os.path.join(table.path, "_staging",
                           f"cdc-{uuid.uuid4().hex}")
    # no coalesce(1): a wide UPDATE/MERGE must not funnel its whole
    # change set through one task at cluster scale. One file per
    # non-empty input partition; the rename loop below and the
    # cdc-<version>-<uuid> naming already handle many files per commit
    # (the reference likewise reads a LIST of _change_data files,
    # src/cdc/index.ts:1403-1421).
    writer = stamped.write.mode("overwrite")
    if fmt == "json":
        writer.json(staging)
        suffix = ".json"
    else:
        writer.parquet(staging)
        suffix = ".parquet"
    for fn in os.listdir(staging):
        if fn.endswith(suffix):
            os.rename(
                os.path.join(staging, fn),
                os.path.join(
                    out_dir,
                    f"cdc-{version:020d}-{uuid.uuid4().hex}{suffix}",
                ),
            )
    import shutil

    shutil.rmtree(os.path.dirname(staging), ignore_errors=True)


def _cdc_files(table: "DeltaTable") -> list[tuple[int, str]]:
    """CDC files per version. Our engine writes Parquet; JSON CDC files
    from foreign writers are also recognized (reference dual-format
    parse, src/cdc/index.ts:1462-1558)."""
    out = []
    for p in glob.glob(os.path.join(_cdc_dir(table), "cdc-*")):
        m = _CDC_RE.search(os.path.basename(p))
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def read_changes(
    table: "DeltaTable",
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """Changes for commit versions in [start, end], inclusive (reference
    readByVersion, src/cdc/index.ts:1244-1254,1403-1421). Files are read
    with the known feed schema (:func:`cdc_schema`): inference would start
    a Spark job on every poll, and would read JSON timestamps as strings."""
    from deltalake_spark.delta import log as dlog

    dlog.require_table(table.path)
    end = ending_version if ending_version is not None else table.version()
    files = [
        p for v, p in _cdc_files(table) if starting_version <= v <= end
    ]
    schema = cdc_schema(table)
    if not files:
        return table.spark.createDataFrame([], schema)
    pq_files = [f for f in files if f.endswith(".parquet")]
    js_files = [f for f in files if f.endswith(".json")]
    parts = []
    if pq_files:
        parts.append(table.spark.read.schema(schema).parquet(*pq_files))
    if js_files:
        # JSON CDC (own json writeFormat or foreign writers).
        # NB: json() takes schema as 2nd positional — pass paths as a list
        parts.append(table.spark.read.schema(schema).json(js_files))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_changes_by_timestamp(
    table: "DeltaTable",
    starting_ts: Any = None,
    ending_ts: Any = None,
) -> DataFrame:
    """Changes filtered by commit timestamp (reference readByTimestamp,
    src/cdc/index.ts:1259-1270,1427-1456)."""
    df = read_changes(table, 0, None)
    if starting_ts is not None:
        df = df.filter(F.col("_commit_timestamp") >= F.lit(starting_ts))
    if ending_ts is not None:
        df = df.filter(F.col("_commit_timestamp") <= F.lit(ending_ts))
    return df


def subscribe_stream(
    table: "DeltaTable",
    checkpoint_location: str,
    handler,
    *,
    trigger_once: bool = True,
):
    """Push-style subscription (reference subscribe(),
    src/cdc/index.ts:1277-1327) as a Structured Streaming query over the
    _change_data directory with ``foreachBatch``; the checkpoint dir is
    the consumer offset store (reference OffsetStorage,
    src/cdc/index.ts:502-596).
    """
    stream = (
        table.spark.readStream.schema(cdc_schema(table))
        .parquet(os.path.join(_cdc_dir(table), ""))
    )
    writer = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint_location)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
