"""DeltaTable: the engine's table façade.

Mirrors the reference's DeltaTable surface
(/root/reference/src/delta/table.ts:1-2889): write / query / delete /
update / merge / snapshot / time travel / history / iterators, plus CDC
(src/cdc/index.ts) and maintenance (vacuum, compaction — see
``maintenance.py``). All metadata is driver-side Python over the
transaction log; all data movement is Spark.

Storage: paths are local-filesystem here; on a real cluster the same
layout runs on any Hadoop FileSystem (s3a://, gs://) — the log protocol
only needs atomic create-if-absent for commits.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.parse
import uuid
from typing import Any, Callable, Iterator, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from deltalake_spark.delta import log as dlog
from deltalake_spark.delta import snapshot as dsnap
from deltalake_spark.delta.stats import stats_json
from deltalake_spark.errors import (
    ConcurrencyError,
    ConstraintViolationError,
    NoMatchError,
    SchemaMismatchError,
    ValidationError,
)
from deltalake_spark.functions.filters import translate_filter
from deltalake_spark.functions.projection import apply_projection

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _to_condition(cond: Any) -> Column:
    """Accept Mongo filter dict, SQL string, or Column."""
    if cond is None:
        return F.lit(True)
    if isinstance(cond, Column):
        return cond
    if isinstance(cond, str):
        return F.expr(cond)
    if isinstance(cond, Mapping):
        return translate_filter(cond)
    raise TypeError(f"Unsupported condition type: {type(cond)}")


def _schema_of(snap: "dsnap.Snapshot | None") -> StructType:
    """Logical schema recorded in ``snap`` (empty when there is none)."""
    if snap is None or not snap.schema_string:
        return StructType([])
    return StructType.fromJson(json.loads(snap.schema_string))


def _numeric_rank(t: str) -> int | None:
    return {"integer": 0, "long": 1, "float": 2, "double": 3}.get(t)


class DeltaTable:
    """A Delta-style table at a filesystem path."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # -- metadata ----------------------------------------------------------

    def exists(self) -> bool:
        return dlog.table_exists(self.path)

    def version(self) -> int:
        return dlog.latest_version(self.path)

    def snapshot(self, version: int | None = None) -> dsnap.Snapshot:
        return dsnap.load_snapshot(self.path, version)

    def last_txn_version(self, app_id: str) -> int:
        """Highest committed SetTransaction version for ``app_id`` (−1 if
        none) — Delta-protocol streaming idempotence: a sink stamps each
        micro-batch commit with ``txn`` and skips batch ids at or below
        this watermark on replay."""
        if not self.exists():
            return -1
        return self.snapshot().transactions.get(app_id, -1)

    def schema(self, version: int | None = None) -> StructType:
        return _schema_of(self.snapshot(version))

    def history(self) -> list[dict[str, Any]]:
        """Commit history, newest first (reference history():
        src/delta/table.ts commitInfo replay)."""
        out = []
        for v in reversed(dlog.list_commit_versions(self.path)):
            for action in dlog.read_commit(self.path, v):
                if "commitInfo" in action:
                    out.append({"version": v, **action["commitInfo"]})
        return out

    @property
    def configuration(self) -> dict[str, str]:
        if not self.exists():
            return {}
        return self.snapshot().configuration

    # -- column mapping (rename without rewrite) ---------------------------

    def _column_mapping(self, snap: "dsnap.Snapshot") -> dict[str, str]:
        """logical → physical column names (reference column mapping,
        src/delta/snapshot.ts:29-83: physicalName metadata applied on
        read). Empty when no column was ever renamed.

        Two layouts are understood: this engine's compact
        ``delta.columnMapping.map`` table property, and the standard
        Delta layout where each schemaString field carries
        ``delta.columnMapping.physicalName`` in its metadata (what
        spec-compliant foreign writers produce). A table that declares
        ``delta.columnMapping.mode`` but yields no mapping from either
        layout is refused — reading it with logical names would silently
        return null for every renamed column."""
        conf = snap.configuration or {}
        raw = conf.get("delta.columnMapping.map")
        if raw:
            return json.loads(raw)
        mode = conf.get("delta.columnMapping.mode")
        if not mode or mode == "none":
            return {}
        if mode != "name":
            # 'id' mode resolves columns by parquet field id, which this
            # name-based reader cannot honor — refuse rather than misread
            from deltalake_spark.errors import UnsupportedProtocolError

            raise UnsupportedProtocolError(
                f"delta.columnMapping.mode={mode!r} is not supported "
                "(only 'name' mapping); refusing a potentially "
                "incorrect read"
            )
        mapping: dict[str, str] = {}
        schema_str = (snap.metadata or {}).get("schemaString")
        if schema_str:
            for f in json.loads(schema_str).get("fields", []):
                phys = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName")
                if phys:
                    mapping[f["name"]] = phys
        if not mapping:
            from deltalake_spark.errors import UnsupportedProtocolError

            raise UnsupportedProtocolError(
                f"Table declares delta.columnMapping.mode={mode!r} but "
                "neither delta.columnMapping.map nor per-field "
                "delta.columnMapping.physicalName metadata is present; "
                "refusing a read that would silently miss renamed columns"
            )
        return mapping

    @staticmethod
    def _mapping_schema_string(
        fields: "list[StructField]",
        mapping: dict[str, str],
        conf: dict[str, str],
        prev_schema_string: "str | None",
    ) -> str:
        """schemaString carrying STANDARD column-mapping metadata
        (delta.columnMapping.physicalName + .id per field, maxColumnId
        in ``conf``) alongside this engine's compact map config — so a
        spec-compliant foreign reader resolves renamed columns from the
        field metadata exactly as the reference does
        (src/delta/snapshot.ts:29-83). Existing field ids are
        preserved; new fields draw from delta.columnMapping.maxColumnId
        (which this updates in place)."""
        prev_ids: dict[str, int] = {}
        if prev_schema_string:
            for f in json.loads(prev_schema_string).get("fields", []):
                fid = (f.get("metadata") or {}).get(
                    "delta.columnMapping.id")
                if fid is not None:
                    # key by PHYSICAL name: stable across renames
                    phys = (f.get("metadata") or {}).get(
                        "delta.columnMapping.physicalName", f["name"])
                    prev_ids[phys] = int(fid)
        max_id = int(conf.get("delta.columnMapping.maxColumnId", "0"))
        out = []
        for f in fields:
            phys = mapping.get(f.name, f.name)
            fid = prev_ids.get(phys)
            if fid is None:
                max_id += 1
                fid = max_id
            md = dict(f.metadata or {})
            md["delta.columnMapping.physicalName"] = phys
            md["delta.columnMapping.id"] = fid
            out.append(StructField(f.name, f.dataType, f.nullable, md))
            max_id = max(max_id, fid)
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        return StructType(out).json()

    @staticmethod
    def _physical_schema(schema: StructType,
                         mapping: dict[str, str]) -> StructType:
        if not mapping:
            return schema
        return StructType([
            StructField(mapping.get(f.name, f.name), f.dataType,
                        f.nullable, f.metadata)
            for f in schema.fields
        ])

    @staticmethod
    def _to_logical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
        if not mapping:
            return df
        inv = {phys: log for log, phys in mapping.items()}
        return df.select(
            *[F.col(c).alias(inv.get(c, c)) for c in df.columns]
        )

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
        if not mapping:
            return df
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column WITHOUT rewriting data files: only the
        logical→physical map and the logical schema change; existing
        parquet keeps its physical names forever (reference
        delta.columnMapping.physicalName semantics,
        src/delta/snapshot.ts:29-83)."""
        self._assert_writer_protocol()
        snap = self.snapshot()
        schema = self.schema()
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if old in snap.partition_columns:
            raise ValueError(
                "cannot rename a partition column (directory layout is "
                "keyed by its physical name)"
            )
        mapping = self._column_mapping(snap)
        mapping[new] = mapping.pop(old, old)
        meta = dict(snap.metadata or {})
        conf = dict(meta.get("configuration", {}))
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.map"] = json.dumps(mapping)
        meta["schemaString"] = self._mapping_schema_string(
            [StructField(new if f.name == old else f.name, f.dataType,
                         f.nullable, f.metadata)
             for f in schema.fields],
            mapping, conf, snap.schema_string,
        )
        meta["configuration"] = conf
        version = snap.version + 1
        actions = [
            dlog.commit_info_action("RENAME COLUMN",
                                    {"from": old, "to": new}),
            {"metaData": meta},
        ]
        # name column mapping requires protocol (2, 5) per the Delta spec
        upgrade = self._protocol_upgrade_action(snap, 2, 5)
        if upgrade:
            actions.append(upgrade)
        dlog.write_commit(self.path, version, actions)
        return version

    def drop_column(self, name: str) -> int:
        """Drop a column WITHOUT rewriting data files (metadata-only,
        like :meth:`rename_column`): the logical schema loses the field
        and the mapping entry is retired. Existing parquet keeps the
        physical column forever; reads simply never select it. A later
        re-add of the same logical name gets a fresh physical name via
        write()'s collision handling, so old data never resurfaces."""
        self._assert_writer_protocol()
        snap = self.snapshot()
        schema = self.schema()
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no such column {name!r}")
        if name in snap.partition_columns:
            raise ValueError(
                "cannot drop a partition column (directory layout is "
                "keyed by it)"
            )
        if len(names) == 1:
            raise ValueError("cannot drop the last column")
        import re as _re

        esc = _re.escape(name)
        # bare identifier ('id' must not hit 'valid') OR the backquoted
        # form `id` — a constraint written with quoted identifiers must
        # still block the drop, else the orphaned constraint breaks
        # every subsequent write with an opaque analysis error
        ident = _re.compile(rf"(?<![A-Za-z0-9_`]){esc}(?![A-Za-z0-9_])"
                            rf"|`{esc}`")
        for cname, expr in self.check_constraints().items():
            if ident.search(expr):
                raise ValidationError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{cname!r} ({expr}); drop the constraint first"
                )
        mapping = self._column_mapping(snap)
        physical = mapping.pop(name, name)
        # remember the retired physical name so a future re-add of this
        # logical name cannot silently resurrect old data
        meta = dict(snap.metadata or {})
        conf = dict(meta.get("configuration", {}))
        retired = json.loads(conf.get("delta.columnMapping.retired", "[]"))
        retired.append(physical)
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.map"] = json.dumps(mapping)
        conf["delta.columnMapping.retired"] = json.dumps(retired)
        meta["schemaString"] = self._mapping_schema_string(
            [f for f in schema.fields if f.name != name],
            mapping, conf, snap.schema_string,
        )
        meta["configuration"] = conf
        version = snap.version + 1
        actions = [
            dlog.commit_info_action("DROP COLUMN", {"column": name}),
            {"metaData": meta},
        ]
        upgrade = self._protocol_upgrade_action(snap, 2, 5)
        if upgrade:
            actions.append(upgrade)
        dlog.write_commit(self.path, version, actions)
        return version

    def restore(self, version: int) -> dict[str, Any]:
        """Restore the table to a previous version (engine-native; the
        reference exposes snapshots read-only — restore makes time travel
        actionable). Metadata-only commit: current files are removed,
        the target snapshot's files re-added; no data I/O."""
        self._assert_writer_protocol()
        target = self.snapshot(version)
        cur = self.snapshot()
        cur_paths = {f["path"] for f in cur.files}
        tgt_paths = {f["path"] for f in target.files}
        now = int(time.time() * 1000)
        actions: list[dict[str, Any]] = [dlog.commit_info_action(
            "RESTORE", {"version": version},
            numRemovedFiles=len(cur_paths - tgt_paths),
            numRestoredFiles=len(tgt_paths - cur_paths),
        )]
        if target.metadata and target.metadata != cur.metadata:
            actions.append({"metaData": target.metadata})
        for p in sorted(cur_paths - tgt_paths):
            actions.append({"remove": {"path": p, "deletionTimestamp": now,
                                       "dataChange": True}})
        for f in target.files:
            if f["path"] not in cur_paths or f != next(
                (c for c in cur.files if c["path"] == f["path"]), None
            ):
                actions.append({"add": f})
        new_version = cur.version + 1
        dlog.write_commit(self.path, new_version, actions)
        dsnap.maybe_checkpoint(self.path, new_version)
        return {"version": new_version, "restoredVersion": version}

    def clone(self, target_path: str,
              version: int | None = None) -> "DeltaTable":
        """Shallow clone (Delta ``CLONE ... SHALLOW``): create a new
        table at ``target_path`` whose add actions reference THIS
        table's data files by absolute path — a zero-copy snapshot.
        The clone has its own log (new table id, fresh version 0);
        subsequent writes/deletes/optimizes on the clone never touch
        the source, and vacuum on the clone only ever deletes files
        under the clone's root (absolute external paths are not listing
        candidates). Deletion-vector descriptors are rewritten to
        absolute ``p``-storage so they keep resolving from the clone;
        inline DVs are carried as-is.

        Engine-native extension of the reference's read-only snapshots
        (the reference has no CLONE; semantics follow the Delta
        protocol's shallow-clone layout of absolute-path add actions).
        """
        from deltalake_spark.delta.deletion_vectors import (
            dv_file_candidates,
        )

        snap = self.snapshot(version)
        if snap.metadata is None:
            raise ValidationError("cannot clone: source has no metadata")
        if os.path.exists(dlog.log_dir(target_path)) and \
                dlog.latest_version(target_path) >= 0:
            raise ValidationError(
                f"clone target already a Delta table: {target_path}")
        os.makedirs(target_path, exist_ok=True)
        os.makedirs(dlog.log_dir(target_path), exist_ok=True)

        src_root = os.path.abspath(self.path)
        meta = dict(snap.metadata)
        meta["id"] = uuid.uuid4().hex
        meta["createdTime"] = int(time.time() * 1000)
        adds: list[dict[str, Any]] = []
        for f in snap.files:
            a = dict(f)
            a["path"] = os.path.join(src_root, f["path"])
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                for cand in dv_file_candidates(src_root, dv):
                    if os.path.exists(cand):
                        a["deletionVector"] = {
                            **dv,
                            "storageType": "p",
                            "pathOrInlineDv": os.path.abspath(cand),
                        }
                        break
                else:
                    raise ValidationError(
                        f"clone: DV file missing for {f['path']}")
            adds.append(a)
        proto = snap.protocol or dlog.protocol_action()["protocol"]
        actions = (
            [dlog.commit_info_action(
                "CLONE",
                {"source": src_root, "sourceVersion": snap.version},
                numFiles=len(adds),
            )]
            + [{"protocol": dict(proto)}, {"metaData": meta}]
            + [{"add": a} for a in adds]
        )
        dlog.write_commit(target_path, 0, actions)
        return DeltaTable(self.spark, target_path)

    def update_metadata(
        self, configuration: Mapping[str, str],
        min_protocol: "tuple[int, int] | None" = None,
    ) -> int:
        """Merge table configuration (reference updateMetadata,
        src/delta/table.ts:2435-2458). ``min_protocol`` atomically raises
        the table protocol in the same commit — used by feature-enabling
        properties (constraints, CDF) whose spec semantics require a
        writer-version floor."""
        self._assert_writer_protocol()
        snap = self.snapshot()
        meta = dict(snap.metadata or {})
        conf = dict(meta.get("configuration", {}))
        conf.update(configuration)
        meta["configuration"] = conf
        version = snap.version + 1
        actions = [
            dlog.commit_info_action("SET TBLPROPERTIES",
                                    {"properties": dict(configuration)}),
            {"metaData": meta},
        ]
        if min_protocol is not None:
            upgrade = self._protocol_upgrade_action(snap, *min_protocol)
            if upgrade:
                actions.append(upgrade)
        dlog.write_commit(self.path, version, actions)
        return version

    # -- constraints -------------------------------------------------------

    _CONSTRAINT_PREFIX = "delta.constraints."

    def check_constraints(
        self, snap: "dsnap.Snapshot | None" = None
    ) -> dict[str, str]:
        """Active CHECK constraints: name → SQL expression (stored as
        ``delta.constraints.<name>`` table properties, the Delta-protocol
        layout; engine-native — the reference has no constraints)."""
        if not self.exists():
            return {}
        conf = (snap.configuration if snap is not None
                else self.configuration)
        p = self._CONSTRAINT_PREFIX
        return {k[len(p):]: v for k, v in conf.items()
                if k.startswith(p)}

    def _constraint_violations(
        self, df: DataFrame, constraints: Mapping[str, str]
    ) -> dict[str, int]:
        """Per-constraint violation counts in ONE aggregation pass.
        A row violates a constraint when the expression is FALSE; NULL
        passes (SQL CHECK semantics)."""
        aggs = [
            F.sum((~F.coalesce(F.expr(expr), F.lit(True))).cast("long"))
            .alias(name)
            for name, expr in constraints.items()
        ]
        row = df.agg(*aggs).first()
        return {n: int(row[n] or 0) for n in constraints}

    def add_check_constraint(self, name: str, expr: str,
                             validate: bool = True) -> int:
        """Add a CHECK constraint; existing rows are validated first
        (one scan) unless ``validate=False``. Subsequent writes/updates/
        merges reject batches containing violating rows."""
        key = self._CONSTRAINT_PREFIX + name
        if key in self.configuration:
            raise ValidationError(f"constraint {name!r} already exists")
        # fail fast on unparseable/unresolvable expressions before
        # persisting (analysis against the table schema, no job)
        try:
            self.to_df().select(F.expr(expr)).schema
        except Exception as exc:
            raise ValidationError(
                f"invalid constraint expression {expr!r}: {exc}"
            ) from exc
        if validate:
            bad = self._constraint_violations(self.to_df(), {name: expr})
            if bad.get(name):
                raise ConstraintViolationError(
                    f"{bad[name]} existing row(s) violate CHECK "
                    f"constraint {name!r} ({expr})", bad
                )
        # delta.constraints.* requires minWriterVersion >= 3 (Delta spec)
        return self.update_metadata({key: expr}, min_protocol=(1, 3))

    def drop_check_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""
        self._assert_writer_protocol()
        key = self._CONSTRAINT_PREFIX + name
        snap = self.snapshot()
        meta = dict(snap.metadata or {})
        conf = dict(meta.get("configuration", {}))
        if key not in conf:
            raise ValidationError(f"no such constraint {name!r}")
        del conf[key]
        meta["configuration"] = conf
        version = snap.version + 1
        dlog.write_commit(self.path, version, [
            dlog.commit_info_action("DROP CONSTRAINT", {"name": name}),
            {"metaData": meta},
        ])
        return version

    def _assert_writer_protocol(
        self, snap: "dsnap.Snapshot | None" = None
    ) -> None:
        """Refuse mutations on tables demanding a writer version beyond
        this engine (a foreign writer may rely on invariants we don't
        maintain — committing anyway could corrupt the table)."""
        if not self.exists():
            return
        s = snap or self.snapshot()
        proto = s.protocol or {}
        if int(proto.get("minWriterVersion", 1)) > dsnap.SUPPORTED_WRITER:
            from deltalake_spark.errors import UnsupportedProtocolError

            raise UnsupportedProtocolError(
                f"Table requires writer version "
                f"{proto.get('minWriterVersion')} (this engine supports "
                f"<= {dsnap.SUPPORTED_WRITER})"
            )
        # generated columns (writer 4) are the one feature <= SUPPORTED_
        # WRITER this engine does not populate; appending without
        # computing them would break the table's invariant
        schema_str = (s.metadata or {}).get("schemaString")
        if schema_str and "delta.generationExpression" in schema_str:
            from deltalake_spark.errors import UnsupportedProtocolError

            raise UnsupportedProtocolError(
                "Table has generated columns "
                "(delta.generationExpression); this engine does not "
                "compute generation expressions — refusing a write that "
                "would leave them stale"
            )

    @staticmethod
    def _protocol_upgrade_action(
        snap: "dsnap.Snapshot", min_reader: int, min_writer: int
    ) -> "dict[str, Any] | None":
        """Protocol action raising the table to at least
        (min_reader, min_writer), or None if already sufficient. The
        Delta spec ties features to writer versions — CHECK constraints
        need minWriterVersion >= 3, CDF >= 4, name column mapping
        (2, 5); committing the feature without the upgrade lets a
        spec-compliant foreign writer at (1, 2) legitimately append rows
        that ignore the invariant."""
        proto = snap.protocol or {}
        cur_r = int(proto.get("minReaderVersion", 1))
        cur_w = int(proto.get("minWriterVersion", 2))
        new_r, new_w = max(cur_r, min_reader), max(cur_w, min_writer)
        if (new_r, new_w) == (cur_r, cur_w):
            return None
        return dlog.protocol_action(new_r, new_w)

    def _enforce_constraints(
        self, df: DataFrame, snap: "dsnap.Snapshot | None" = None
    ) -> None:
        constraints = self.check_constraints(snap)
        if not constraints:
            return
        bad = self._constraint_violations(df, constraints)
        failing = {n: c for n, c in bad.items() if c}
        if failing:
            detail = ", ".join(
                f"{n} ({constraints[n]}): {c} row(s)"
                for n, c in failing.items()
            )
            raise ConstraintViolationError(
                f"write rejected — CHECK constraint violation: {detail}",
                failing,
            )

    # -- write path --------------------------------------------------------

    def _stage_and_move(
        self, df: DataFrame, partition_by: list[str],
        snap: "dsnap.Snapshot | None",
        mapping: dict[str, str] | None = None,
        max_records_per_file: int | None = None,
    ) -> list[dict[str, Any]]:
        """Write df via a staging dir, move parquet files into the table
        tree with unique names, return add actions with footer stats.

        (Spark writes straight to staging; the move is a metadata rename on
        the same filesystem — the commit itself is only the log append,
        mirroring the reference's buffer-then-commit write,
        src/delta/table.ts:764-816.)

        Every code path that creates data files funnels through here
        (write / update / merge / CoW rewrites), so this is also where
        CHECK constraints are enforced — one extra aggregation pass over
        the incoming batch, only when constraints exist.
        """
        # the caller's snapshot (None for a table this write creates)
        # feeds the protocol gate, constraint lookup and column mapping
        self._assert_writer_protocol(snap)
        self._enforce_constraints(df, snap)
        if mapping is None and snap is not None:
            mapping = self._column_mapping(snap)
        # data files always carry PHYSICAL column names
        df = self._to_physical(df, mapping or {})
        staging = os.path.join(self.path, "_staging", uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            # file-size governor (reference streaming-writer row-group /
            # target-size knobs, src/parquet/streaming-writer.ts:31-47)
            writer = writer.option("maxRecordsPerFile",
                                   int(max_records_per_file))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)

        adds: list[dict[str, Any]] = []
        for root, _dirs, files in os.walk(staging):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(root, staging)
                part_values: dict[str, str | None] = {}
                if rel_dir != ".":
                    for seg in rel_dir.split(os.sep):
                        k, _, v = seg.partition("=")
                        part_values[k] = (
                            None if v == _HIVE_NULL else urllib.parse.unquote(v)
                        )
                new_name = f"part-{uuid.uuid4().hex}.snappy.parquet"
                rel_path = (
                    new_name if rel_dir == "."
                    else os.path.join(rel_dir, new_name)
                )
                dest = os.path.join(self.path, rel_path)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(os.path.join(root, fn), dest)
                adds.append({
                    "path": rel_path.replace(os.sep, "/"),
                    "partitionValues": part_values,
                    "size": os.path.getsize(dest),
                    "modificationTime": int(time.time() * 1000),
                    "dataChange": True,
                })
        # footer-stat reads are small independent I/Os — parallelize so a
        # many-file commit doesn't serialize on the driver
        from concurrent.futures import ThreadPoolExecutor

        dests = [os.path.join(self.path, a["path"]) for a in adds]
        if dests:
            workers = min(16, len(dests))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                for a, s in zip(adds, ex.map(stats_json, dests)):
                    a["stats"] = s
        # remove only THIS write's staging dir — the shared _staging parent
        # may hold other writers' in-flight files (concurrency)
        shutil.rmtree(staging, ignore_errors=True)
        return adds

    def _merge_schemas(
        self, existing: StructType, incoming: StructType, merge_schema: bool
    ) -> StructType:
        """Schema validation/merge mirroring validateAndMergeSchemas
        (src/delta/table.ts:1239-1280): new fields join as nullable;
        numeric types widen (areTypesCompatible, table.ts:1393-1404)."""
        by_name = {f.name: f for f in existing.fields}
        merged = list(existing.fields)
        changed = False
        for f in incoming.fields:
            cur = by_name.get(f.name)
            if cur is None:
                if not merge_schema:
                    raise SchemaMismatchError(
                        f"New column {f.name!r} requires merge_schema=True"
                    )
                merged.append(f)
                changed = True
                continue
            if cur.dataType != f.dataType:
                r1 = _numeric_rank(cur.dataType.typeName())
                r2 = _numeric_rank(f.dataType.typeName())
                if r1 is None or r2 is None:
                    raise SchemaMismatchError(
                        f"Incompatible type for {f.name!r}: "
                        f"{cur.dataType.simpleString()} vs "
                        f"{f.dataType.simpleString()}"
                    )
                if r2 > r1:
                    if not merge_schema:
                        raise SchemaMismatchError(
                            f"Type widening for {f.name!r} requires "
                            "merge_schema=True"
                        )
                    merged[merged.index(cur)] = f
                    changed = True
        out = StructType(merged)
        return out if changed or out != existing else existing

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
        max_records_per_file: int | None = None,
        configuration: Mapping[str, str] | None = None,
        _extra_actions: list[dict[str, Any]] | None = None,
        _operation: str = "WRITE",
        _emit_cdc: bool = True,
    ) -> int:
        """Append/overwrite rows; returns the committed version.

        Reference: DeltaTable.write (src/delta/table.ts:694-837) including
        schema inference/merge, partitioned writes (843-928), OCC commit.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"Unsupported mode {mode!r}")
        exists = self.exists()
        prev = self.snapshot() if exists else None
        partition_cols = list(
            partition_by if partition_by is not None
            else (prev.partition_columns if prev else [])
        )
        if prev and partition_by is not None and \
                list(prev.partition_columns) != partition_cols and prev.files:
            raise ValueError(
                "partition_by conflicts with existing table partitioning"
            )

        actions: list[dict[str, Any]] = []
        schema = df.schema
        write_mapping: dict[str, str] | None = None
        if prev and prev.schema_string:
            existing = StructType.fromJson(json.loads(prev.schema_string))
            target = self._merge_schemas(existing, df.schema, merge_schema)
            # align df to target schema (missing columns → null)
            cols = [
                F.col(f.name).cast(f.dataType) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.fields
            ]
            df = df.select(*cols)
            schema = target
            if target.json() != prev.schema_string:
                meta = dict(prev.metadata)
                meta["schemaString"] = target.json()
                # a NEW logical column may collide with the retired
                # physical name of a renamed column — give it a fresh
                # physical name in the mapping
                mapping = self._column_mapping(prev)
                retired = set(json.loads(
                    (prev.configuration or {})
                    .get("delta.columnMapping.retired", "[]")
                ))
                if mapping or retired:
                    old_names = {f.name for f in existing.fields}
                    taken = set(mapping.values()) | old_names | retired
                    changed = False
                    for f in target.fields:
                        if f.name not in old_names and f.name in taken:
                            mapping[f.name] = f"{f.name}_{uuid.uuid4().hex[:8]}"
                            changed = True
                    if changed:
                        conf = dict(meta.get("configuration", {}))
                        conf["delta.columnMapping.map"] = json.dumps(mapping)
                        meta["configuration"] = conf
                        write_mapping = mapping
                if mapping or (prev.configuration or {}).get(
                        "delta.columnMapping.mode") == "name":
                    # keep the STANDARD per-field physicalName/id
                    # metadata in sync for foreign readers (mode=name
                    # requires it on EVERY field, including ones whose
                    # physical name equals the logical)
                    conf = dict(meta.get("configuration", {}))
                    meta["schemaString"] = self._mapping_schema_string(
                        list(target.fields), mapping, conf,
                        prev.schema_string,
                    )
                    meta["configuration"] = conf
                actions.append({"metaData": meta})
        elif not exists or not (prev and prev.metadata):
            actions.append(dlog.protocol_action())
            actions.append(dlog.metadata_action(
                table_id=uuid.uuid4().hex,
                schema_string=schema.json(),
                partition_columns=partition_cols,
                configuration=configuration,
            ))

        adds = self._stage_and_move(
            df, partition_cols, prev, mapping=write_mapping,
            max_records_per_file=max_records_per_file)
        num_rows = sum(
            json.loads(a["stats"])["numRecords"] for a in adds
        )

        removes: list[dict[str, Any]] = []
        if mode == "overwrite" and prev:
            removes = self._removes([f["path"] for f in prev.files])

        commit_actions = (
            [dlog.commit_info_action(
                _operation,
                {"mode": mode, "partitionBy": json.dumps(partition_cols)},
                numFiles=len(adds), numOutputRows=num_rows,
            )]
            + actions
            + removes
            + [{"add": a} for a in adds]
            + (_extra_actions or [])
        )
        version = self._commit(prev, commit_actions,
                               [a["path"] for a in adds])
        if _emit_cdc:
            self._maybe_write_cdc_for_write(df, mode, prev, version)
        return version

    def write_rows(
        self,
        rows: "list[Mapping[str, Any]]",
        mode: str = "append",
        partition_by: "list[str] | None" = None,
        configuration: "Mapping[str, str] | None" = None,
    ) -> int:
        """Schemaless document ingestion: write raw Python dicts,
        inferring a typed schema via the reference's type lattice
        (int32-range check, int64, double, timestamp, binary, variant
        fallback — src/delta/table.ts:1289-1432) and merging it with
        the table's existing schema (validateAndMergeSchemas,
        table.ts:1239-1280: new fields join as nullable, numerics
        widen, incompatible types raise). Nested values land as
        canonical JSON text revived by ``functions/variant.py``.

        This is the reference's small-document API shape — a Python
        list is driver-resident by construction; bulk data goes through
        :meth:`write` with a DataFrame."""
        from deltalake_spark.delta.ingest import rows_to_dataframe

        if not rows:
            raise ValidationError("write_rows requires at least one row",
                                  field="rows")
        df = rows_to_dataframe(self.spark, list(rows))
        return self.write(
            df, mode=mode, partition_by=partition_by,
            merge_schema=True, configuration=configuration,
        )

    # -- read path ---------------------------------------------------------

    # -- deletion vectors --------------------------------------------------

    # legacy sidecar dir (pre-spec parquet DVs) — still read, and still
    # excluded from vacuum; new DVs are spec .bin files at the table root
    DV_DIR = "_deletion_vectors"

    def dv_enabled(self, snap: "dsnap.Snapshot") -> bool:
        return snap.configuration.get(
            "delta.enableDeletionVectors", "").lower() == "true"

    def enable_deletion_vectors(self) -> int:
        return self.update_metadata({"delta.enableDeletionVectors": "true"})

    def _file_key_expr(self) -> Column:
        """Full (scheme-stripped, still percent-encoded) data file path
        from the _metadata column — robust to the URI form (file:/,
        file:///, or bare path) AND to external absolute-path adds
        (shallow clones), which a table-root-relative key cannot be."""
        return F.regexp_replace(
            F.col("_metadata.file_path"), "^file:(//)?", "")

    def _abs_file_key(self, add_path: str) -> str:
        """The percent-encoded absolute path a file's _metadata key
        resolves to — the DV anti-join key for that file."""
        return urllib.parse.quote(
            os.path.abspath(os.path.join(self.path, add_path)),
            safe="/:@!$&'()*+,;=")

    # above this many deleted rows the DV anti-join falls back from a
    # broadcast to a shuffle join (cardinality is known exactly from the
    # descriptors — no sampling needed)
    DV_BROADCAST_MAX_ROWS = 2_000_000

    def _dv_df(self, snap: "dsnap.Snapshot") -> DataFrame | None:
        """(file_path, row_index) of all soft-deleted rows in the
        snapshot. Two descriptor formats are read: the Delta-spec
        RoaringBitmap .bin format (storageType u/p/i — what this engine
        now writes, and what foreign spec writers produce; reference
        read path src/delta/deletion-vectors.ts:154-439) and this
        engine's pre-spec parquet sidecar ({"path": ...}, kept readable
        for tables written by earlier versions)."""
        legacy_paths: set[str] = set()
        spec_rows: list[tuple[str, str, str, int, int]] = []
        for f in snap.files:
            d = f.get("deletionVector")
            if not d:
                continue
            if d.get("storageType"):
                spec_rows.append((
                    self._abs_file_key(f["path"]), d["storageType"],
                    d.get("pathOrInlineDv", ""),
                    int(d.get("offset") or 0),
                    int(d.get("sizeInBytes") or 0),
                ))
            else:
                legacy_paths.add(d["path"])
        parts: list[DataFrame] = []
        if legacy_paths:
            # legacy sidecars store table-relative paths — resolve to
            # the absolute join key the scan side now produces
            root = urllib.parse.quote(
                os.path.abspath(self.path) + "/",
                safe="/:@!$&'()*+,;=")
            parts.append(
                self.spark.read
                .schema("file_path string, row_index long")
                .parquet(*[os.path.join(self.path, p)
                           for p in legacy_paths])
                .withColumn(
                    "file_path",
                    F.concat(F.lit(root), F.col("file_path")))
            )
        if spec_rows:
            parts.append(self._spec_dv_expand(spec_rows))
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _spec_dv_expand(
        self, rows: list[tuple[str, str, str, int, int]]
    ) -> DataFrame:
        """Descriptor rows -> (file_path, row_index), with the bitmap
        parse running IN EXECUTORS via Arrow-batched mapInPandas: one
        task per DV keeps driver memory independent of delete
        cardinality (the reference parses on its single node,
        deletion-vectors.ts:409-439; this is the distributed shape).
        The descriptor list itself is file-count metadata — KB-scale."""
        from deltalake_spark.delta import deletion_vectors as dvmod

        table_path = self.path
        desc_df = self.spark.createDataFrame(
            rows,
            "file_path string, storage_type string, "
            "path_or_inline string, offset long, size_bytes long",
        )
        if len(rows) > 1:
            desc_df = desc_df.repartition(min(len(rows), 32))

        def expand(batches):
            import urllib.parse

            import pandas as pd

            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    idx = dvmod.load_dv_indices(table_path, {
                        "storageType": r.storage_type,
                        "pathOrInlineDv": r.path_or_inline,
                        "offset": int(r.offset),
                        "sizeInBytes": int(r.size_bytes),
                    })
                    # r.file_path arrives as the percent-encoded
                    # ABSOLUTE key (built by _abs_file_key with Hadoop
                    # Path.toUri's safe set) matching _file_key_expr
                    yield pd.DataFrame({
                        "file_path": [r.file_path] * len(idx),
                        "row_index": pd.array(idx, dtype="int64"),
                    })

        return desc_df.mapInPandas(
            expand, "file_path string, row_index long"
        )

    def _with_partition_values(
        self, df: DataFrame, snap: "dsnap.Snapshot",
        adds: list[dict[str, Any]],
    ) -> DataFrame:
        """Attach partition columns from the log's ``add.partitionValues``
        — the Delta-spec read path (PROTOCOL.md: readers MUST source
        partition values from the log; data files may omit the columns
        and need not follow Hive directory layout). A tiny (file →
        values) frame broadcasts against the scan keyed on the absolute
        file path; values cast from their canonical string form to the
        schema type. This makes non-Hive foreign layouts and
        absolute-path (clone) adds read correctly — directory inference
        via ``basePath`` handles neither."""
        pcols = list(snap.partition_columns)
        if not pcols or not adds:
            return df
        schema = _schema_of(snap)
        mapping = self._column_mapping(snap)
        rows = [
            (self._abs_file_key(f["path"]),
             dict(f.get("partitionValues") or {}))
            for f in adds
        ]
        pv = self.spark.createDataFrame(
            rows, "__fp string, __pv map<string,string>")
        out = df.join(F.broadcast(pv), "__fp", "left")
        for name in pcols:
            phys = mapping.get(name, name)
            dtype = next(
                (f.dataType for f in schema.fields if f.name == name),
                None)
            val = F.coalesce(
                F.col("__pv")[phys], F.col("__pv")[name])
            out = out.withColumn(
                phys, val.cast(dtype) if dtype is not None else val)
        return out.drop("__pv")

    def _keyed_scan(
        self, snap: "dsnap.Snapshot", adds: list[dict[str, Any]],
    ) -> DataFrame:
        """Raw physical-schema scan of ``adds`` with every
        _metadata-derived column materialized up front (``__file`` raw
        URI, ``__fp`` absolute join key, ``__ri`` row index) and
        partition values attached from the log — the _metadata struct
        stops resolving after any join, so everything derived from it
        must be columnar before ``_with_partition_values``."""
        phys = self._physical_schema(_schema_of(snap),
                                     self._column_mapping(snap))
        reader = self.spark.read.schema(phys)
        raw = (
            reader.parquet(
                *[os.path.join(self.path, f["path"]) for f in adds])
            .withColumn("__file", F.col("_metadata.file_path"))
            .withColumn("__fp", self._file_key_expr())
            .withColumn("__ri", F.col("_metadata.row_index"))
        )
        return self._with_partition_values(raw, snap, adds)

    def _apply_dv(self, df: DataFrame,
                  snap: "dsnap.Snapshot") -> DataFrame:
        dv = self._dv_df(snap)
        if dv is None:
            return df
        # descriptors carry exact cardinality — broadcast the delete set
        # only when it provably fits; large DV sets shuffle instead
        total = sum(
            int(f["deletionVector"].get("cardinality") or 0)
            for f in snap.files if f.get("deletionVector")
        )
        if total <= self.DV_BROADCAST_MAX_ROWS:
            dv = F.broadcast(dv)
        keyed = df
        if "__fp" not in keyed.columns:
            keyed = keyed.withColumn("__fp", self._file_key_expr()) \
                         .withColumn("__ri", F.col("_metadata.row_index"))
        return keyed.join(
            dv,
            (keyed["__fp"] == dv["file_path"])
            & (keyed["__ri"] == dv["row_index"]),
            "left_anti",
        ).drop("__fp", "__ri")

    def _scan(self, snap: "dsnap.Snapshot", adds: list[dict[str, Any]],
              with_file: bool = False) -> DataFrame:
        """Logical rows of ``adds`` as of ``snap``, deletion vectors
        applied. ``with_file`` keeps the ``__file`` column (the raw
        _metadata URI), taken before the DV anti-join — Spark rejects
        input_file_name() once the plan has two sources."""
        schema = _schema_of(snap)
        if not adds:
            return self.spark.createDataFrame([], schema)
        mapping = self._column_mapping(snap)
        phys = self._physical_schema(schema, mapping)
        df = self._apply_dv(self._keyed_scan(snap, adds), snap)
        extra = ["__file"] if with_file else []
        return self._to_logical(
            df.select(*[f.name for f in phys.fields], *extra), mapping
        )

    def to_df(self, version: int | None = None) -> DataFrame:
        """Snapshot scan → DataFrame (reference query() steps 2-5,
        src/delta/table.ts:1482-1605; deletion vectors applied as a
        broadcast anti-join on (file, row_index))."""
        snap = self.snapshot(version)
        return self._scan(snap, snap.files)

    def query(
        self,
        filter: Mapping[str, Any] | None = None,
        projection: Any = None,
        version: int | None = None,
    ) -> DataFrame:
        """Mongo-style query → DataFrame, with FILE-LEVEL data skipping:
        files whose partition values or min/max stats provably cannot
        match the filter are pruned before the scan is built (reference
        prunes partitions only, table.ts:1624-1687, and never wired its
        zone-map scaffolding into query() — SURVEY §4; we do both, and
        Catalyst still does row-group skipping inside surviving files).
        ``last_query_skipped_files`` mirrors the reference's counter
        (table.ts:1613-1617)."""
        snap = self.snapshot(version)
        kept, self.last_query_skipped_files = self._prune(snap, filter)
        df = self._scan(snap, kept)
        if filter:
            df = df.filter(translate_filter(filter))
        return apply_projection(df, projection)

    def query_iterator(
        self, filter: Mapping[str, Any] | None = None,
        projection: Any = None, version: int | None = None,
    ) -> Iterator[Any]:
        """Row-at-a-time iterator (reference queryIterator,
        src/delta/table.ts:1927-1981)."""
        return self.query(filter, projection, version).toLocalIterator()

    def query_batch(
        self, filter: Mapping[str, Any] | None = None, batch_size: int = 1000,
        projection: Any = None, version: int | None = None,
    ) -> Iterator[list[Any]]:
        """Batched iterator (reference queryBatch,
        src/delta/table.ts:2014-2087)."""
        batch: list[Any] = []
        for row in self.query_iterator(filter, projection, version):
            batch.append(row)
            if len(batch) >= batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    # -- DML ---------------------------------------------------------------

    def _rel_path(self, spark_file_uri: str) -> str:
        """Log key for a scanned file: table-relative for files under
        this table's root, ABSOLUTE for external files (shallow-clone
        adds reference the source table by absolute path, and the log
        key must equal the add action's path string exactly or removes
        / DV descriptors would silently never match)."""
        p = urllib.parse.unquote(urllib.parse.urlparse(spark_file_uri).path)
        rel = os.path.relpath(p, self.path)
        if rel.startswith(".."):
            return p
        return rel.replace(os.sep, "/")

    def _prune(
        self, snap: "dsnap.Snapshot", filter: Any,
    ) -> tuple[list[dict[str, Any]], int]:
        """(files of ``snap`` that ``filter`` can match, number skipped).
        A Mongo filter doc prunes by partition values and min/max stats,
        and only files that provably cannot match drop out; a SQL string
        or Column keeps every file."""
        from deltalake_spark.delta.pruning import prune_files

        return prune_files(
            snap.files, filter if isinstance(filter, Mapping) else None,
            list(snap.partition_columns),
            # stats are keyed by PHYSICAL parquet names; predicates arrive
            # with logical names (partition columns can't be renamed, so
            # they are unaffected)
            column_mapping=self._column_mapping(snap),
        )

    def _affected_files(
        self, snap: "dsnap.Snapshot", files: list[dict[str, Any]],
        cond: Column,
    ) -> tuple[list[str], int]:
        """(log paths of the ``files`` holding rows that match ``cond``,
        matched row count) — one aggregate job, no data rewrite yet."""
        if not files:
            return [], 0
        rows = (
            self._scan(snap, files, with_file=True)
            .filter(cond)
            .groupBy("__file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return ([self._rel_path(r["__file"]) for r in rows],
                sum(r["n"] for r in rows))

    def _read_files(self, rel_paths: list[str],
                    snap: "dsnap.Snapshot") -> DataFrame:
        """Logical rows of the files ``rel_paths`` names in ``snap``,
        deletion vectors applied."""
        wanted = set(rel_paths)
        return self._scan(snap, [f for f in snap.files if f["path"] in wanted])

    def _commit(
        self, snap: "dsnap.Snapshot | None", actions: list[dict[str, Any]],
        written: list[str],
    ) -> int:
        """Commit ``actions`` as the version after ``snap``, the snapshot
        the operation read, and return that version. A commit that landed
        in between raises ConcurrencyError instead of being silently
        written over; the files this operation put into the table
        (``written``: data files and deletion-vector files, relative to
        the table root) are removed again before it propagates."""
        version = (snap.version if snap is not None else -1) + 1
        try:
            dlog.write_commit(self.path, version, actions)
        except ConcurrencyError:
            for rel in written:
                try:
                    os.remove(os.path.join(self.path, rel))
                except OSError:
                    pass
            raise
        dsnap.maybe_checkpoint(self.path, version)
        return version

    @staticmethod
    def _removes(paths: list[str]) -> list[dict[str, Any]]:
        now = int(time.time() * 1000)
        return [{"remove": {"path": p, "deletionTimestamp": now,
                            "dataChange": True}} for p in paths]

    def _rewrite_commit(
        self,
        operation: str,
        remove_paths: list[str],
        new_df: DataFrame | None,
        extra_actions: list[dict[str, Any]] | None = None,
        *,
        snap: "dsnap.Snapshot",
        **metrics: Any,
    ) -> int:
        """Copy-on-write commit: rewrite ``remove_paths`` as ``new_df``
        (reference delete/update file rewrite, src/delta/table.ts:2214-2414)
        against ``snap``, the snapshot the caller read them from."""
        adds = (
            self._stage_and_move(new_df, list(snap.partition_columns), snap)
            if new_df is not None else []
        )
        return self._commit(snap, (
            [dlog.commit_info_action(operation, {}, **metrics)]
            + self._removes(remove_paths)
            + [{"add": a} for a in adds]
            + (extra_actions or [])
        ), [a["path"] for a in adds])

    def _dv_soft_delete_actions(
        self, snap: "dsnap.Snapshot", files: list[dict[str, Any]],
        cond: Column, no_match_msg: str,
    ) -> tuple[list[dict[str, Any]], int, DataFrame, list[str]]:
        """Build the remove+add actions (with deletionVector descriptors)
        for a soft delete of the rows of ``files`` matching ``cond`` —
        WITHOUT committing. Callers compose them into a single atomic
        commit: plain delete, or delete+append for the DV update path
        (readers must never see the intermediate rows-missing state).
        Returns (actions, n_matched, matched logical rows, the deletion-
        vector file written, if any, for ``_commit`` to remove on a
        conflict)."""
        if not files:
            raise NoMatchError(no_match_msg)
        mapping = self._column_mapping(snap)
        keyed = self._keyed_scan(snap, files)
        old_dv = self._dv_df(snap)
        live = keyed
        if old_dv is not None:
            live = keyed.join(
                F.broadcast(old_dv),
                (keyed["__fp"] == old_dv["file_path"])
                & (keyed["__ri"] == old_dv["row_index"]),
                "left_anti",
            )
        logical = self._to_logical(
            live, mapping
        )  # __fp/__ri unmapped → pass through
        matched = logical.filter(cond)
        new_pairs = matched.select(
            F.col("__fp").alias("file_path"),
            F.col("__ri").alias("row_index"),
        )
        n_matched = new_pairs.count()
        if n_matched == 0:
            raise NoMatchError(no_match_msg)

        all_pairs = new_pairs if old_dv is None else \
            new_pairs.unionByName(old_dv).distinct()
        # serialize each affected file's RoaringTreemap WHERE ITS ROWS
        # LIVE: one applyInPandas group per data file (bounded by
        # rows-per-parquet-file), so the driver only ever receives the
        # compressed bitmaps — KB–MB metadata, never raw row indices
        from deltalake_spark.delta import deletion_vectors as dvmod

        def _serialize(pdf):
            import pandas as pd

            return pd.DataFrame({
                "file_path": [pdf["file_path"].iloc[0]],
                "dv_bytes": [dvmod.serialize_treemap(
                    pdf["row_index"].tolist())],
                "cardinality": [len(pdf)],
            })

        blob_rows = (
            all_pairs.groupBy("file_path")
            .applyInPandas(
                _serialize,
                "file_path string, dv_bytes binary, cardinality long")
            .collect()
        )
        # __fp is the percent-ENCODED absolute path (space/#/% in
        # partition values), while add-action paths are decoded and may
        # be table-relative — unquote AND map back through the add key,
        # or files would silently never receive their deletionVector
        # descriptor (relative adds) / removes would miss (clone adds)
        abs_to_add = {
            os.path.abspath(os.path.join(self.path, f["path"])): f["path"]
            for f in snap.files
        }
        blobs = sorted(
            (abs_to_add[urllib.parse.unquote(r["file_path"])],
             bytes(r["dv_bytes"]), int(r["cardinality"]))
            for r in blob_rows
        )
        # tiny bitmaps can ride inline in the log ('i' descriptors,
        # opt-in via deltalake_spark.deletionVectors.inlineMaxBytes —
        # saves a file GET per scan at the cost of log-JSON bytes);
        # everything else goes into one spec .bin per commit packing
        # every affected file's bitmap at its own offset (Delta-protocol
        # layout; reference reader deletion-vectors.ts:409-439 resolves
        # it via the Z85 uuid path)
        inline_max = int((snap.configuration or {}).get(
            "deltalake_spark.deletionVectors.inlineMaxBytes", "0"))
        inline = [b for b in blobs if len(b[1]) <= inline_max]
        filed = [b for b in blobs if len(b[1]) > inline_max]
        descriptors: dict[str, dict[str, Any]] = {}
        written: list[str] = []
        if filed:
            dv_rel, descriptors = dvmod.write_dv_file(self.path, filed)
            written.append(dv_rel)
        for fp, blob, card in inline:
            descriptors[fp] = dvmod.inline_descriptor(blob, card)
        now = int(time.time() * 1000)
        actions: list[dict[str, Any]] = []
        for f in snap.files:
            if f["path"] in descriptors:
                actions.append({"remove": {
                    "path": f["path"], "deletionTimestamp": now,
                    "dataChange": False}})
                new_add = dict(f)
                new_add["deletionVector"] = descriptors[f["path"]]
                new_add["dataChange"] = False
                actions.append({"add": new_add})
        return (actions, n_matched, matched.select(*_schema_of(snap).names),
                written)

    def _delete_with_dv(self, snap: "dsnap.Snapshot",
                        files: list[dict[str, Any]],
                        cond: Column) -> dict[str, Any]:
        """Soft delete: record (file, row_index) pairs in a deletion-
        vector sidecar instead of rewriting data files. The whole DV set
        is rewritten each delete (it is metadata-scale); affected files
        get remove+add with a deletionVector descriptor — zero data I/O.
        """
        dv_actions, n_matched, matched, written = \
            self._dv_soft_delete_actions(snap, files, cond,
                                         "delete matched no rows")
        version = self._commit(snap, [dlog.commit_info_action(
            "DELETE", {"mode": "deletion-vectors"},
            numDeletedRows=n_matched,
        )] + dv_actions, written)
        if self.cdc_enabled(snap):
            self._write_cdc(
                matched.withColumn("_change_type", F.lit("delete")),
                version, snap)
        return {"version": version, "numDeletedRows": n_matched}

    def delete(self, filter: Any = None) -> dict[str, Any]:
        """Delete matching rows; errors when nothing matches (reference
        semantics, src/delta/table.ts:2214-2297). With
        ``delta.enableDeletionVectors=true`` the delete is a soft DV
        write (no data-file rewrite); otherwise copy-on-write. A Mongo
        filter doc prunes files by stats first (as :meth:`query` does),
        so files that provably hold no match are never scanned. One
        snapshot is read and committed against."""
        snap = self.snapshot()
        self._assert_writer_protocol(snap)
        cond = _to_condition(filter)
        files, _ = self._prune(snap, filter)
        if self.dv_enabled(snap):
            return self._delete_with_dv(snap, files, cond)
        paths, n_matched = self._affected_files(snap, files, cond)
        if not paths:
            raise NoMatchError("delete matched no rows")
        affected = self._read_files(paths, snap)
        version = self._rewrite_commit(
            "DELETE", paths, affected.filter(~F.coalesce(cond, F.lit(False))),
            snap=snap, numDeletedRows=n_matched, numRemovedFiles=len(paths),
        )
        if self.cdc_enabled(snap):
            self._write_cdc(
                affected.filter(cond).withColumn("_change_type",
                                                 F.lit("delete")),
                version, snap)
        return {"version": version, "numDeletedRows": n_matched}

    @staticmethod
    def _update_val(v: Any) -> Column:
        if isinstance(v, Column):
            return v
        if isinstance(v, str) and not v.startswith("$"):
            return F.expr(v)
        if isinstance(v, str):
            return F.col(v[1:])
        return F.lit(v)

    def _assignments(self, snap: "dsnap.Snapshot",
                     updates: Mapping[str, Any]) -> dict[str, Column]:
        """UPDATE's ``updates`` as {column: new value, cast to the
        column's type}. Applied with one ``withColumns``, so every value
        is computed from the row as it was (SQL ``SET`` semantics), not
        from the assignments before it."""
        schema = _schema_of(snap)
        out = {}
        for name, v in updates.items():
            if name not in schema.names:
                raise ValueError(
                    f"update target column {name!r} not in table")
            out[name] = self._update_val(v).cast(schema[name].dataType)
        return out

    @staticmethod
    def _update_images(matched: DataFrame,
                       assigned: Mapping[str, Column]) -> DataFrame:
        """Change-feed records of an UPDATE: each matched row as its
        preimage, and with the assignments applied as its postimage —
        never a re-filter of the rewritten rows: when the predicate tests
        an updated column, the new value no longer matches and the
        postimage would silently vanish from the feed."""
        pre = matched.withColumn("_change_type", F.lit("update_preimage"))
        post = matched.withColumns(dict(assigned)).withColumn(
            "_change_type", F.lit("update_postimage"))
        return pre.unionByName(post)

    def _update_with_dv(self, snap: "dsnap.Snapshot",
                        files: list[dict[str, Any]], cond: Column,
                        assigned: Mapping[str, Column]) -> dict[str, Any]:
        """DV-style update: soft-delete the matched row versions (zero
        data rewrite) and append the updated rows — in ONE commit, the
        delete+insert decomposition Delta uses for DV updates. A single
        commit means concurrent readers never observe the intermediate
        rows-missing state and a crash between the two halves cannot
        lose the updated rows."""
        dv_actions, n, matched, written = self._dv_soft_delete_actions(
            snap, files, cond, "update matched no rows")
        adds = self._stage_and_move(matched.withColumns(dict(assigned)),
                                    list(snap.partition_columns), snap)
        version = self._commit(snap, [dlog.commit_info_action(
            "UPDATE", {"mode": "deletion-vectors"}, numUpdatedRows=n,
        )] + dv_actions + [{"add": a} for a in adds],
            written + [a["path"] for a in adds])
        if self.cdc_enabled(snap):
            self._write_cdc(self._update_images(matched, assigned),
                            version, snap)
        return {"version": version, "numUpdatedRows": n}

    def update(self, filter: Any, updates: Mapping[str, Any]) -> dict[str, Any]:
        """Update matching rows with {col: literal | Column | SQL-string}
        (reference update(), src/delta/table.ts:2321-2414: merged
        {...row, ...updates}). With deletion vectors enabled the update
        is soft-delete + append instead of a file rewrite. A Mongo filter
        doc prunes files by stats first, and one snapshot is read and
        committed against, as in :meth:`delete`."""
        snap = self.snapshot()
        cond = _to_condition(filter)
        assigned = self._assignments(snap, updates)
        files, _ = self._prune(snap, filter)
        if self.dv_enabled(snap):
            return self._update_with_dv(snap, files, cond, assigned)
        paths, n_matched = self._affected_files(snap, files, cond)
        if not paths:
            raise NoMatchError("update matched no rows")
        affected = self._read_files(paths, snap)
        matched_cond = F.coalesce(cond, F.lit(False))
        new_df = affected.withColumns({
            name: F.when(matched_cond, val).otherwise(F.col(name))
            for name, val in assigned.items()
        })
        version = self._rewrite_commit(
            "UPDATE", paths, new_df,
            snap=snap, numUpdatedRows=n_matched, numRemovedFiles=len(paths),
        )
        if self.cdc_enabled(snap):
            self._write_cdc(
                self._update_images(affected.filter(matched_cond), assigned),
                version, snap)
        return {"version": version, "numUpdatedRows": n_matched}

    def merge(
        self,
        source: DataFrame,
        condition: Any,
        when_matched_update: Mapping[str, Any] | str | None = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool | Mapping[str, Any] = True,
        when_matched_condition: Any = None,
    ) -> dict[str, Any]:
        """MERGE (upsert): join-based, rewriting only files containing
        matches and appending inserts.

        Reference: merge() with matchCondition/whenMatched/whenNotMatched
        (/root/reference/src/cdc/index.ts:1937-2005, 2140-2209) — there a
        nested loop over rows; here a join on ``condition`` using aliases
        ``t`` (target) and ``s`` (source). ``when_matched_update`` is a
        {target_col: SQL-expr} mapping or "*" (take source columns by
        name). ``when_not_matched_insert`` is True (source columns by
        name) or a {target_col: SQL-expr over the source} mapping.

        ``when_matched_condition`` (SQL over ``t``/``s`` aliases or a
        Column) further gates the matched clause, Delta-style
        ``whenMatchedUpdate(condition=...)``: matched rows failing it are
        left untouched (and excluded from counts and CDC).

        Three Spark actions against one snapshot: a probe
        (``source ⟕ target`` grouped by file: touched files, matched
        pairs and unmatched source rows in one collect), one data write
        and one change-feed write. Both writes come from one full outer
        join of the touched files with the source: a source row with no
        match in the touched files has no match anywhere, so it is an
        insert (Delta's own MERGE plan). A ``when_matched_condition``
        adds one count.
        """
        cond = (
            F.expr(condition) if isinstance(condition, str) else condition
        )
        snap = self.snapshot()
        schema = _schema_of(snap)
        fields = schema.fields
        tcols = schema.names

        if not snap.files:
            if not when_not_matched_insert:
                return {"version": snap.version, "numInserted": 0,
                        "numUpdated": 0, "numDeleted": 0}
            aligned = source.alias("s").select(*[
                v.alias(f.name) for v, f in zip(self._insert_values(
                    source, schema, when_not_matched_insert), fields)
            ]) if tcols else source
            n_ins = aligned.count()
            version = self.write(aligned, _operation="MERGE")
            return {"version": version, "numInserted": n_ins,
                    "numUpdated": 0, "numDeleted": 0}

        insert = bool(when_not_matched_insert)
        probe = (
            source.alias("s")
            .join(self._scan(snap, snap.files, with_file=True).alias("t"),
                  cond, "left_outer" if insert else "inner")
            .groupBy("__file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        files = [self._rel_path(r["__file"]) for r in probe
                 if r["__file"] is not None]
        n_pairs = sum(r["n"] for r in probe if r["__file"] is not None)
        n_ins = sum(r["n"] for r in probe if r["__file"] is None)

        # insert values are computed on the source side, before any join,
        # so SQL in an insert mapping resolves against the source alone
        src = source.alias("s").withColumn("__s_exists", F.lit(True))
        ins = [F.col(f"__ins{i}") for i in range(len(fields))]
        if n_ins:
            src = src.withColumns({
                f"__ins{i}": v for i, v in
                enumerate(self._insert_values(source, schema,
                                              when_not_matched_insert))
            })

        n_upd = n_del = 0
        rows = cdc = None
        if not files:
            if n_ins:
                rows = src.select(*[v.alias(f.name)
                                    for v, f in zip(ins, fields)])
                cdc = rows.withColumn("_change_type", F.lit("insert"))
        else:
            affected = self._read_files(files, snap).withColumn(
                "__tid", F.monotonically_increasing_id()
            )
            key = F.col("__tid")
            if n_ins:
                # source-only rows (null __tid) each get a window key of
                # their own, so the inserts spread over the window's
                # partitions instead of all landing in the one for null
                src = src.withColumn("__sid", F.monotonically_increasing_id())
                key = F.coalesce(key, -1 - F.col("__sid"))
            joined = affected.alias("t").join(
                src, cond, "full_outer" if n_ins else "left_outer")
            is_target = F.col("__tid").isNotNull()
            # at most one source row drives each target row (Delta MERGE
            # would error; the reference takes the first match —
            # cdc/index.ts:1969-1975); source-only rows all pass
            w = Window.partitionBy(key).orderBy(F.lit(1))
            joined = joined.withColumn(
                "__rn", F.row_number().over(w)
            ).filter(~is_target | (F.col("__rn") == 1))
            is_matched = is_target & F.col("__s_exists").isNotNull()
            if when_matched_condition is not None:
                mc = (F.expr(when_matched_condition)
                      if isinstance(when_matched_condition, str)
                      else when_matched_condition)
                # null-safe: unmatched rows have null source columns
                is_matched = F.coalesce(is_matched & mc, F.lit(False))
                n_matched = joined.filter(is_matched).count()
            else:
                n_matched = n_pairs

            before = [F.col(f"t.{c}") for c in tcols]
            after = before
            if when_matched_delete:
                n_del = n_matched
            elif when_matched_update is not None:
                if when_matched_update == "*":
                    upd = {c: f"s.{c}" for c in source.columns if c in tcols}
                else:
                    upd = dict(when_matched_update)
                after = [
                    F.when(is_matched,
                           F.expr(str(upd[f.name])).cast(f.dataType))
                    .otherwise(F.col(f"t.{f.name}"))
                    if f.name in upd else F.col(f"t.{f.name}")
                    for f in fields
                ]
                n_upd = n_matched
            out = after if not n_ins else [
                F.when(is_target, a).otherwise(i)
                for a, i in zip(after, ins)
            ]
            kept = joined.filter(~is_matched) if when_matched_delete \
                else joined
            rows = kept.select(*[v.alias(c) for v, c in zip(out, tcols)])

            # change records in one pass over the join: each row yields
            # the images its clause produces (none for untouched rows)
            images = []
            if when_matched_delete:
                images.append((is_matched, before, "delete"))
            elif when_matched_update is not None:
                images.append((is_matched, before, "update_preimage"))
                images.append((is_matched, after, "update_postimage"))
            if n_ins:
                images.append((~is_target, ins, "insert"))
            if images:
                cdc = joined.select(F.explode(F.array(*[
                    F.when(hit, F.struct(
                        *[v.alias(c) for v, c in zip(vals, tcols)],
                        F.lit(change).alias("_change_type")))
                    for hit, vals, change in images
                ])).alias("__c")).filter(F.col("__c").isNotNull()) \
                    .select("__c.*")

        # single commit: removes + rewritten and inserted rows
        adds = (self._stage_and_move(rows, list(snap.partition_columns),
                                     snap)
                if rows is not None else [])
        version = self._commit(snap, (
            [dlog.commit_info_action(
                "MERGE", {},
                numTargetRowsUpdated=n_upd, numTargetRowsDeleted=n_del,
                numTargetRowsInserted=n_ins,
            )]
            + self._removes(files) + [{"add": a} for a in adds]
        ), [a["path"] for a in adds])
        if cdc is not None and self.cdc_enabled(snap):
            self._write_cdc(cdc, version, snap)
        return {"version": version, "numUpdated": n_upd,
                "numDeleted": n_del, "numInserted": n_ins}

    @staticmethod
    def _insert_values(source: DataFrame, schema: StructType,
                       spec: bool | Mapping[str, Any]) -> list[Column]:
        """MERGE's insert row, one value per table column in schema
        order, over the source alone: source columns by name (missing
        ones null), or a {column: SQL-expr} mapping."""
        if isinstance(spec, Mapping):
            missing = [c for c in schema.names if c not in spec]
            if missing:
                raise ValueError(
                    f"when_not_matched_insert has no value for column(s) "
                    f"{missing}")
            vals = [F.expr(str(spec[f.name])) for f in schema.fields]
        else:
            vals = [F.col(f.name) if f.name in source.columns else F.lit(None)
                    for f in schema.fields]
        return [v.cast(f.dataType) for v, f in zip(vals, schema.fields)]

    # -- CDC ---------------------------------------------------------------

    def cdc_enabled(self, snap: "dsnap.Snapshot") -> bool:
        return snap.configuration.get(
            "delta.enableChangeDataFeed", "false") == "true"

    def enable_cdc(self) -> int:
        """Persist delta.enableChangeDataFeed=true (reference setCDCEnabled,
        src/cdc/index.ts:1726-1752)."""
        # delta.enableChangeDataFeed requires minWriterVersion >= 4
        return self.update_metadata({"delta.enableChangeDataFeed": "true"},
                                    min_protocol=(1, 4))

    def _write_cdc(self, df: DataFrame, version: int,
                   snap: "dsnap.Snapshot") -> None:
        """Write CDC records for a commit (reference writeCDCFile,
        src/cdc/index.ts:2319-2359), in the format ``snap``'s
        configuration names."""
        from deltalake_spark.delta.cdc import write_cdc_file

        write_cdc_file(self, df, version, snap.configuration)

    def _maybe_write_cdc_for_write(
        self, df: DataFrame, mode: str,
        prev: dsnap.Snapshot | None, version: int,
    ) -> None:
        # a write keeps its table's configuration; the write that creates
        # the table commits the first one
        snap = prev if prev is not None and prev.metadata \
            else self.snapshot(version)
        if not self.cdc_enabled(snap):
            return
        records = df.withColumn("_change_type", F.lit("insert"))
        self._write_cdc(records, version, snap)

    def read_changes(
        self, starting_version: int = 0, ending_version: int | None = None
    ) -> DataFrame:
        """Change feed by commit version range (reference readByVersion,
        src/cdc/index.ts:1244-1254)."""
        from deltalake_spark.delta.cdc import read_changes

        return read_changes(self, starting_version, ending_version)

    def read_changes_by_timestamp(
        self, starting_ts: Any = None, ending_ts: Any = None
    ) -> DataFrame:
        from deltalake_spark.delta.cdc import read_changes_by_timestamp

        return read_changes_by_timestamp(self, starting_ts, ending_ts)

    # -- maintenance (delegates) ------------------------------------------

    def vacuum(self, retention_hours: float = 168.0,
               dry_run: bool = False) -> dict[str, Any]:
        from deltalake_spark.delta.maintenance import vacuum

        return vacuum(self, retention_hours=retention_hours, dry_run=dry_run)

    def compact(self, target_file_size: int = 128 * 1024 * 1024,
                min_files: int = 2, strategy: str = "greedy",
                dry_run: bool = False) -> dict[str, Any]:
        from deltalake_spark.delta.maintenance import compact

        return compact(self, target_file_size=target_file_size,
                       min_files=min_files, strategy=strategy,
                       dry_run=dry_run)

    def deduplicate(self, primary_keys: list[str] | None = None,
                    keep: str = "first",
                    order_by: str | None = None) -> dict[str, Any]:
        from deltalake_spark.delta.maintenance import deduplicate

        return deduplicate(self, primary_keys=primary_keys, keep=keep,
                           order_by=order_by)

    def z_order_hilbert(self, columns: list[str],
                        target_file_count: int | None = None
                        ) -> dict[str, Any]:
        from deltalake_spark.delta.maintenance import z_order_cluster

        return z_order_cluster(self, columns, curve="hilbert",
                               target_file_count=target_file_count)

    def z_order(self, columns: list[str],
                target_file_count: int | None = None) -> dict[str, Any]:
        from deltalake_spark.delta.maintenance import z_order_cluster

        return z_order_cluster(self, columns,
                               target_file_count=target_file_count)
