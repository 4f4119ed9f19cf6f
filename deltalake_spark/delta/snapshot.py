"""Snapshot: table state at a version, derived by log replay.

Mirrors the reference's snapshot construction
(/root/reference/src/delta/table.ts:557-642): load the newest checkpoint at
or below the requested version, then replay later NDJSON commits with
in-commit reconciliation (last add per path wins; remove-then-add = add).

Checkpoints are Parquet files in the reference's column-per-action-type
layout (``add`` / ``remove`` / ``metaData`` / ``protocol`` JSON columns,
one action per row, src/delta/checkpoint.ts:346-383) including remove
tombstones — so vacuum's protected-file window survives log cleanup and
reference-format readers can consume them. The legacy single-``action``
-column layout from earlier versions of this engine is still readable.
Written every ``CHECKPOINT_INTERVAL`` commits (reference cadence: 10,
src/delta/checkpoint.ts:586-589). Driver-side pyarrow I/O — the log is
metadata-scale even for 100 TB tables (file *entries*, not data).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from deltalake_spark.delta import log as dlog
from deltalake_spark.errors import (
    UnsupportedProtocolError,
    VersionNotFoundError,
)

# Protocol gate: versions this engine implements correctly. Reader 2
# covers column mapping; tables demanding higher reader features (which
# change read RESULTS, e.g. v3 table features we don't know) must be
# refused rather than silently misread. Writer 5 = invariants (2),
# CHECK constraints (3), CDF (4), name column mapping (5) — all
# enforced here; the one writer-4 feature NOT implemented (generated
# columns) is guarded separately: _assert_writer_protocol refuses
# writes to tables whose schema carries delta.generationExpression.
SUPPORTED_READER = 2
SUPPORTED_WRITER = 5

CHECKPOINT_INTERVAL = 10
# tombstones older than this are dropped when writing a checkpoint
# (mirrors Delta's tombstone retention; matches vacuum's 168 h default)
TOMBSTONE_RETENTION_HOURS = 168.0

_ACTION_COLUMNS = ("add", "remove", "metaData", "protocol", "txn")


@dataclass
class Snapshot:
    version: int
    files: list[dict[str, Any]] = field(default_factory=list)  # add actions
    metadata: dict[str, Any] | None = None
    protocol: dict[str, Any] | None = None
    tombstones: list[dict[str, Any]] = field(default_factory=list)  # removes
    # streaming idempotence: appId -> highest committed txn version
    # (Delta protocol SetTransaction action)
    transactions: dict[str, int] = field(default_factory=dict)

    @property
    def schema_string(self) -> str | None:
        return self.metadata.get("schemaString") if self.metadata else None

    @property
    def partition_columns(self) -> list[str]:
        return (self.metadata or {}).get("partitionColumns", [])

    @property
    def configuration(self) -> dict[str, str]:
        return (self.metadata or {}).get("configuration", {})


def _apply_actions(state: dict[str, Any], actions: list[dict[str, Any]]) -> None:
    """Replay one commit's actions into state (last-add-wins per path,
    reference reconciliation src/delta/table.ts:598-639)."""
    for action in actions:
        if "add" in action:
            add = action["add"]
            state["files"][add["path"]] = add
        elif "remove" in action:
            path = action["remove"]["path"]
            state["files"].pop(path, None)
            state["tombstones"][path] = action["remove"]
        elif "metaData" in action:
            state["metadata"] = action["metaData"]
        elif "protocol" in action:
            state["protocol"] = action["protocol"]
        elif "txn" in action:
            # SetTransaction (Delta protocol): latest version per appId —
            # streaming sinks use this for exactly-once batch dedup
            t = action["txn"]
            app = t.get("appId")
            if app is not None:
                prev = state["txns"].get(app, -1)
                state["txns"][app] = max(prev, int(t.get("version", -1)))
        # commitInfo is informational


def load_snapshot(table_path: str, version: int | None = None) -> Snapshot:
    """Table state at ``version`` (default: latest)."""
    dlog.require_table(table_path)
    latest = dlog.latest_version(table_path)
    target = latest if version is None else version
    if target > latest or target < 0:
        raise VersionNotFoundError(
            f"Version {target} does not exist (latest is {latest})"
        )

    state: dict[str, Any] = {"files": {}, "tombstones": {},
                             "metadata": None, "protocol": None,
                             "txns": {}}

    start = 0
    checkpoints = [
        v for v in dlog.list_checkpoint_versions(table_path) if v <= target
    ]
    if checkpoints:
        cp_version = max(checkpoints)
        actions = []
        for part_path in dlog.checkpoint_files(table_path, cp_version):
            actions.extend(_read_checkpoint_actions(part_path))
        _apply_actions(state, actions)
        start = cp_version + 1

    replayed: set[int] = set()
    for v in dlog.list_commit_versions(table_path):
        if start <= v <= target:
            _apply_actions(state, dlog.read_commit(table_path, v))
            replayed.add(v)

    # contiguity: after cleanup_log prunes commits below the checkpoint
    # horizon, a pre-horizon version must fail loudly — a silently partial
    # snapshot here would let restore() drop every current file (data loss)
    missing = set(range(start, target + 1)) - replayed
    if missing:
        raise VersionNotFoundError(
            f"Cannot reconstruct version {target}: commit files for "
            f"versions {sorted(missing)} are missing (pruned by log "
            "cleanup?) and no checkpoint at or below them survives"
        )

    proto = state["protocol"]
    if proto and int(proto.get("minReaderVersion", 1)) > SUPPORTED_READER:
        raise UnsupportedProtocolError(
            f"Table requires reader version "
            f"{proto.get('minReaderVersion')} (this engine supports "
            f"<= {SUPPORTED_READER}); refusing a potentially incorrect "
            "read"
        )

    return Snapshot(
        version=target,
        files=list(state["files"].values()),
        metadata=state["metadata"],
        protocol=proto,
        tombstones=list(state["tombstones"].values()),
        transactions=dict(state["txns"]),
    )


def _read_checkpoint_actions(part_path: str) -> list[dict[str, Any]]:
    """Read one checkpoint part — reference four-column layout
    (add/remove/metaData/protocol, checkpoint.ts:346-383) or this
    engine's legacy single-``action``-column layout.

    Checkpoint actions are a SET, not an ordered log: a deletion-vector
    commit leaves both a live add AND a remove tombstone for the SAME
    path (old file version removed, re-added with the descriptor), so
    removes are ordered before adds here — replaying a same-path
    tombstone after the live add would silently drop the file."""
    table = pq.read_table(part_path)
    if "action" in table.column_names:
        actions = [json.loads(s)
                   for s in table.column("action").to_pylist()]
    else:
        actions = []
        cols = {
            name: table.column(name).to_pylist()
            for name in _ACTION_COLUMNS if name in table.column_names
        }
        for i in range(table.num_rows):
            for name, values in cols.items():
                if values[i] is not None:
                    actions.append({name: json.loads(values[i])})
                    break
    rank = {"protocol": 0, "metaData": 1, "txn": 2, "remove": 3,
            "add": 4}
    return sorted(
        actions, key=lambda a: rank.get(next(iter(a.keys()), ""), 5)
    )


def write_checkpoint(table_path: str, snapshot: Snapshot,
                     max_actions_per_part: int | None = None) -> str:
    """Materialize a snapshot as a checkpoint Parquet + _last_checkpoint
    pointer (reference: src/delta/checkpoint.ts:56-340). When the action
    count exceeds ``max_actions_per_part`` the checkpoint is split into
    ``<v>.checkpoint.<part>.<total>.parquet`` parts (reference multi-part
    checkpoints, checkpoint.ts:250-340) — at 100 TB a table can have
    millions of add actions; parts keep each file bounded and let readers
    fetch them in parallel."""
    import time

    actions: list[dict[str, Any]] = []
    if snapshot.protocol:
        actions.append({"protocol": snapshot.protocol})
    if snapshot.metadata:
        actions.append({"metaData": snapshot.metadata})
    actions.extend({"add": f} for f in snapshot.files)
    # persist remove tombstones (inside retention) so vacuum's protected-
    # file window survives commit-file cleanup (reference includes removes
    # in checkpoints, checkpoint.ts:346-383)
    tomb_cutoff_ms = (time.time() - TOMBSTONE_RETENTION_HOURS * 3600) * 1000
    actions.extend(
        {"remove": t} for t in snapshot.tombstones
        if t.get("deletionTimestamp", 0) >= tomb_cutoff_ms
    )
    # SetTransaction watermarks survive log cleanup via checkpoints, so
    # streaming-sink dedup keeps working after old commits are pruned
    actions.extend(
        {"txn": {"appId": app, "version": v}}
        for app, v in sorted(snapshot.transactions.items())
    )

    def _part_table(chunk: list[dict[str, Any]]) -> pa.Table:
        cols: dict[str, list[str | None]] = {
            name: [] for name in _ACTION_COLUMNS
        }
        for a in chunk:
            for name in _ACTION_COLUMNS:
                cols[name].append(
                    json.dumps(a[name], separators=(",", ":"))
                    if name in a else None
                )
        return pa.table(
            {name: pa.array(vals, type=pa.string())
             for name, vals in cols.items()}
        )

    pointer: dict[str, Any] = {"version": snapshot.version,
                               "size": len(actions)}
    if max_actions_per_part and len(actions) > max_actions_per_part:
        total = -(-len(actions) // max_actions_per_part)
        for i in range(total):
            chunk = actions[i * max_actions_per_part:
                            (i + 1) * max_actions_per_part]
            pq.write_table(
                _part_table(chunk),
                dlog.checkpoint_part_file(
                    table_path, snapshot.version, i + 1, total),
                compression="snappy",
            )
        pointer["parts"] = total
        path = dlog.checkpoint_part_file(
            table_path, snapshot.version, 1, total)
    else:
        path = dlog.checkpoint_file(table_path, snapshot.version)
        pq.write_table(_part_table(actions), path, compression="snappy")
    with open(dlog.last_checkpoint_file(table_path), "w", encoding="utf-8") as f:
        json.dump(pointer, f)
    return path


def maybe_checkpoint(table_path: str, version: int) -> str | None:
    """Checkpoint every CHECKPOINT_INTERVAL commits (cadence mirrors
    reference src/delta/checkpoint.ts:586-589)."""
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        return write_checkpoint(table_path, load_snapshot(table_path, version))
    return None
