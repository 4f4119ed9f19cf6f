"""Table maintenance: compaction, deduplication, Z-order clustering, vacuum.

Reference: /root/reference/src/compaction/index.ts (compact 568-878,
deduplicate 930-1086, zOrderCluster 1149-1279) and src/delta/vacuum.ts
(127-355). The reference materializes every row in one JS process; here
selection is metadata-only (log stats), and rewrites are Spark jobs —
at 100 TB each rewrite touches only the selected files' partitions.
"""

from __future__ import annotations

import json
import os
import time
from typing import TYPE_CHECKING, Any

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deltalake_spark.delta import log as dlog
from deltalake_spark.delta import snapshot as dsnap
from deltalake_spark.errors import NoMatchError

if TYPE_CHECKING:
    from deltalake_spark.delta.table import DeltaTable


def _select_greedy(small: list[dict], target: int) -> list[dict]:
    return small


def _select_sort_by_size(small: list[dict], target: int) -> list[dict]:
    """Smallest-first — compacting the tiniest files yields the highest
    file-count reduction per byte rewritten (reference 'sort-by-size')."""
    return sorted(small, key=lambda f: f["size"])


def _select_bin_packing(small: list[dict], target: int) -> list[dict]:
    """First-fit-decreasing into target-size bins; bins with a single
    file are left alone (rewriting them wouldn't reduce file count) —
    reference bin-packing, compaction/index.ts:1504-1531."""
    bins: list[tuple[int, list[dict]]] = []
    for f in sorted(small, key=lambda x: -x["size"]):
        for i, (used, members) in enumerate(bins):
            if used + f["size"] <= target:
                bins[i] = (used + f["size"], members + [f])
                break
        else:
            bins.append((f["size"], [f]))
    out: list[dict] = []
    for _used, members in bins:
        if len(members) > 1:
            out.extend(members)
    return out


_STRATEGIES = {
    "greedy": _select_greedy,
    "sort-by-size": _select_sort_by_size,
    "bin-packing": _select_bin_packing,
}


def compact(
    table: "DeltaTable",
    *,
    target_file_size: int = 128 * 1024 * 1024,
    min_files: int = 2,
    strategy: str = "greedy",
    dry_run: bool = False,
    on_progress: "Any | None" = None,
) -> dict[str, Any]:
    """Merge small files per partition (reference compact(),
    compaction/index.ts:568-878; selection 1492-1538; strategies
    greedy / sort-by-size / bin-packing with first-fit-decreasing
    1504-1531; onProgress callback compaction/index.ts:120).

    ``on_progress`` (optional callable) receives ``{"phase": "select" |
    "rewrite" | "commit", ...}`` dicts as the operation advances.

    Selection is driver-side over log metadata (size per add action); the
    rewrite is one Spark job per partition group, coalesced toward
    ``target_file_size``. Commits remove+add atomically with
    ``dataChange: false`` semantics (no logical rows change).
    """
    if strategy not in _STRATEGIES:
        raise ValueError(
            f"Unknown strategy {strategy!r}: {sorted(_STRATEGIES)}")
    snap = table.snapshot()
    by_partition: dict[tuple, list[dict]] = {}
    for f in snap.files:
        key = tuple(sorted((f.get("partitionValues") or {}).items()))
        by_partition.setdefault(key, []).append(f)

    selected: list[dict] = []
    groups = 0
    for _key, files in by_partition.items():
        small = [f for f in files if f["size"] < target_file_size]
        small = _STRATEGIES[strategy](small, target_file_size)
        if len(small) >= min_files:
            selected.extend(small)
            groups += 1

    metrics = {
        "filesCompacted": len(selected),
        "partitionGroups": groups,
        "bytesCompacted": sum(f["size"] for f in selected),
        "dryRun": dry_run,
    }
    if on_progress:
        on_progress({"phase": "select", **metrics})
    if dry_run or not selected:
        metrics["version"] = snap.version
        return metrics

    rel_paths = [f["path"] for f in selected]
    df = table._read_files(rel_paths, snap)
    total_bytes = metrics["bytesCompacted"]
    n_out = max(1, total_bytes // target_file_size + (
        1 if total_bytes % target_file_size else 0
    ))
    df = df.coalesce(int(n_out))
    if on_progress:
        on_progress({"phase": "rewrite", "inputFiles": len(rel_paths),
                     "outputFiles": int(n_out)})
    version = table._rewrite_commit(
        "OPTIMIZE", rel_paths, df, snap=snap,
        numRemovedFiles=len(rel_paths), numAddedFiles=int(n_out),
    )
    metrics["version"] = version
    if on_progress:
        on_progress({"phase": "commit", "version": version})
    return metrics


def deduplicate(
    table: "DeltaTable",
    *,
    primary_keys: list[str] | None = None,
    keep: str = "first",
    order_by: str | None = None,
) -> dict[str, Any]:
    """Remove duplicate rows, rewriting the table in one commit
    (reference deduplicate(), compaction/index.ts:930-1086).

    - ``primary_keys=None``: exact full-row duplicates (dropDuplicates).
    - keep='first'/'last': by scan order over a monotonic id — the
      distributed analog of the reference's insertion-order strategies
      (1010-1016).
    - keep='latest': max ``order_by`` per key group (997-1009).
    """
    snap = table.snapshot()
    df = table._scan(snap, snap.files)
    n_before = df.count()
    if primary_keys is None:
        result = df.dropDuplicates()
    else:
        if keep == "latest":
            if not order_by:
                raise ValueError("keep='latest' requires order_by")
            order = F.col(order_by).desc()
        elif keep == "last":
            order = F.monotonically_increasing_id().desc()
        elif keep == "first":
            order = F.monotonically_increasing_id().asc()
        else:
            raise ValueError(f"Unknown keep strategy {keep!r}")
        w = Window.partitionBy(*primary_keys).orderBy(order)
        result = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    n_after = result.count()
    version = table._rewrite_commit(
        "DEDUPLICATE", [f["path"] for f in snap.files], result, snap=snap,
        numDuplicatesRemoved=n_before - n_after,
    )
    return {
        "version": version,
        "rowsBefore": n_before,
        "rowsAfter": n_after,
        "duplicatesRemoved": n_before - n_after,
    }


def z_order_cluster(
    table: "DeltaTable",
    columns: list[str],
    *,
    target_file_count: int | None = None,
    bits_per_dim: int = 21,
    curve: str = "morton",
) -> dict[str, Any]:
    """Space-filling-curve clustering: rewrite the table sorted by Morton
    code (default) or a REAL Hilbert index (``curve="hilbert"``).

    Reference algorithm (compaction/index.ts:360-415, 1149-1279):
    normalize each cluster column to [0,1] (strings via hash), scale to
    2^21, interleave bits. We compute the same interleaved code with JVM
    expressions (min/max from one aggregate; bit interleave via shifts)
    then ``repartitionByRange`` on the code — a range shuffle that gives
    globally sorted, evenly sized files, which is what makes file-stat
    data skipping effective on the clustered columns.

    The reference ACCEPTS ``strategy: 'hilbert'`` but silently runs Morton
    (no distinct implementation exists, SURVEY §2.8); our ``hilbert`` is
    genuine (delta/curves.py, Skilling's algorithm) — better locality,
    tighter per-file min/max, better skipping.
    """
    if curve not in ("morton", "hilbert"):
        raise ValueError(f"Unknown curve {curve!r}: morton | hilbert")
    snap = table.snapshot()
    df = table._scan(snap, snap.files)
    stats = df.agg(*(
        [F.min(F.col(c).cast("double")).alias(f"min_{c}") for c in columns
         if _is_numeric(df, c)]
        + [F.max(F.col(c).cast("double")).alias(f"max_{c}") for c in columns
           if _is_numeric(df, c)]
    )).first() if any(_is_numeric(df, c) for c in columns) else None

    if curve == "hilbert":
        from deltalake_spark.delta.curves import max_bits_per_dim

        bits_per_dim = min(bits_per_dim, max_bits_per_dim(len(columns)))
    scale = (1 << bits_per_dim) - 1
    dim_cols = []
    for c in columns:
        if _is_numeric(df, c):
            lo = float(stats[f"min_{c}"])
            hi = float(stats[f"max_{c}"])
            rng = (hi - lo) or 1.0
            norm = (F.col(c).cast("double") - F.lit(lo)) / F.lit(rng)
        else:
            # strings: hash to [0,1] (reference DJB2 hash, index.ts:396-415)
            norm = (F.abs(F.hash(F.col(c))) % 1000000) / 1000000.0
        dim_cols.append(
            F.least(F.greatest(norm, F.lit(0.0)), F.lit(1.0)) * scale
        )

    if curve == "hilbert":
        from deltalake_spark.delta.curves import hilbert_expr

        z = hilbert_expr(dim_cols, bits_per_dim)
    else:
        z = F.lit(0).cast("long")
        for bit in range(bits_per_dim - 1, -1, -1):
            for d, dim in enumerate(dim_cols):
                z = F.shiftleft(z, 1) + F.shiftright(
                    dim.cast("long"), bit
                ).bitwiseAND(F.lit(1))

    n_files = target_file_count or max(1, len(snap.files))
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    version = table._rewrite_commit(
        "ZORDER", [f["path"] for f in snap.files], clustered, snap=snap,
        zOrderBy=json.dumps(columns),
    )
    return {
        "version": version,
        "clusteredColumns": columns,
        "outputFiles": n_files,
        **clustering_metrics(table, columns),
    }


def clustering_metrics(table: "DeltaTable",
                       columns: list[str]) -> dict[str, Any]:
    """Zone-width / estimated-skip-rate metrics from per-file min/max
    stats (reference ClusteringMetrics, compaction/index.ts:1149-1279
    reports zone-width and skip-rate estimates).

    ``avg_zone_width``: mean of (file max − min)/(global max − min) per
    clustered numeric column — smaller is tighter clustering.
    ``est_skip_rate``: 1 − avg zone width ≈ fraction of files a random
    point-equality predicate on that column can skip via stats.
    """
    snap = table.snapshot()
    zones: dict[str, Any] = {}
    per_file: dict[str, list[tuple[float, float]]] = {c: [] for c in columns}
    for f in snap.files:
        st = f.get("stats")
        st = json.loads(st) if isinstance(st, str) else (st or {})
        for c in columns:
            mn = st.get("minValues", {}).get(c)
            mx = st.get("maxValues", {}).get(c)
            if isinstance(mn, (int, float)) and isinstance(mx, (int, float)):
                per_file[c].append((float(mn), float(mx)))
    for c, spans in per_file.items():
        if not spans:
            continue
        glo = min(mn for mn, _ in spans)
        ghi = max(mx for _, mx in spans)
        rng = (ghi - glo) or 1.0
        width = sum((mx - mn) / rng for mn, mx in spans) / len(spans)
        zones[c] = {"avg_zone_width": round(width, 4),
                    "est_skip_rate": round(1.0 - width, 4)}
    return {"zoneMetrics": zones}


def _is_numeric(df, col: str) -> bool:
    t = dict((f.name, f.dataType.typeName()) for f in df.schema.fields).get(col)
    return t in ("integer", "long", "float", "double", "short", "byte",
                 "decimal", "date", "timestamp", "timestamp_ntz")


def cleanup_log(
    table: "DeltaTable",
    *,
    retain_checkpoints: int = 2,
) -> dict[str, Any]:
    """Delete commit files and checkpoints superseded by retained
    checkpoints (reference checkpoint/log cleanup,
    src/delta/checkpoint.ts:476-581): keep the newest
    ``retain_checkpoints`` checkpoints and every commit at or after the
    oldest retained one."""
    if retain_checkpoints < 1:
        raise ValueError("retain_checkpoints must be >= 1")
    dlog.require_table(table.path)
    cps = dlog.list_checkpoint_versions(table.path)
    if len(cps) == 0:
        return {"commitsDeleted": 0, "checkpointsDeleted": 0}
    retained = cps[-retain_checkpoints:]
    horizon = retained[0]

    commits_deleted = 0
    for v in dlog.list_commit_versions(table.path):
        if v < horizon:
            os.remove(dlog.commit_file(table.path, v))
            commits_deleted += 1
    checkpoints_deleted = 0
    for v in cps:
        if v not in retained:
            for part in dlog.checkpoint_files(table.path, v):
                os.remove(part)
            checkpoints_deleted += 1
    return {
        "commitsDeleted": commits_deleted,
        "checkpointsDeleted": checkpoints_deleted,
        "horizonVersion": horizon,
    }


def _referenced_dv_files(table: "DeltaTable",
                         snap: "Any") -> set[str]:
    """Relative paths of every spec DV .bin referenced by ANY surviving
    log entry: live snapshot adds, checkpoint-persisted adds, and add
    actions in every remaining commit (so snapshots at older versions
    inside the log horizon still resolve their DVs)."""
    from deltalake_spark.delta import deletion_vectors as dvmod
    from deltalake_spark.delta import snapshot as dsnap

    refs: set[str] = set()

    def note(add: dict) -> None:
        d = add.get("deletionVector")
        if d and d.get("storageType") in ("u", "p"):
            try:
                for cand in dvmod.dv_file_candidates(table.path, d):
                    refs.add(os.path.relpath(cand, table.path)
                             .replace(os.sep, "/"))
            except Exception:
                pass  # malformed descriptor: never a reason to delete

    for f in snap.files:
        note(f)
    for _v, actions in dlog.iter_commits(table.path, 0, snap.version):
        for a in actions:
            if "add" in a:
                note(a["add"])
    for cp_v in dlog.list_checkpoint_versions(table.path):
        for part in dlog.checkpoint_files(table.path, cp_v):
            for a in dsnap._read_checkpoint_actions(part):
                if "add" in a:
                    note(a["add"])
    return refs


def vacuum(
    table: "DeltaTable",
    *,
    retention_hours: float = 168.0,
    dry_run: bool = False,
    min_retention_hours: float = 1.0,
    on_progress: "Any | None" = None,
) -> dict[str, Any]:
    """Delete unreferenced data files older than the retention window
    (reference vacuum(), src/delta/vacuum.ts:127-248; protected-file scan
    297-355; identical defaults: 168 h retention, 1 h minimum, dry run;
    onProgress callback vacuum.ts:57).

    ``on_progress`` receives ``{"phase": "scan" | "delete", ...}`` dicts.
    """
    if retention_hours < min_retention_hours:
        raise ValueError(
            f"retention_hours must be >= {min_retention_hours}"
        )
    dlog.require_table(table.path)
    snap = table.snapshot()
    live = {f["path"] for f in snap.files}

    # recently-removed files are protected (remove actions inside retention);
    # snapshot tombstones include checkpoint-persisted removes, so the
    # window survives cleanup_log pruning the underlying commit JSONs
    cutoff_ms = (time.time() - retention_hours * 3600) * 1000
    protected: set[str] = set()
    for r in snap.tombstones:
        if r.get("deletionTimestamp", 0) >= cutoff_ms:
            protected.add(r["path"])
    for _v, actions in dlog.iter_commits(table.path, 0, snap.version):
        for a in actions:
            if "remove" in a:
                r = a["remove"]
                if r.get("deletionTimestamp", 0) >= cutoff_ms:
                    protected.add(r["path"])

    # spec deletion-vector .bin files are garbage once NO surviving log
    # entry (commit or checkpoint) references them — old DVs are
    # superseded whole on every soft delete. Collect every referenced
    # bin from the surviving log so time travel within the log horizon
    # keeps working; everything else ages out like data files.
    referenced_dvs = _referenced_dv_files(table, snap)

    candidates: list[str] = []
    for root, dirs, files in os.walk(table.path):
        rel_root = os.path.relpath(root, table.path)
        top = rel_root.split(os.sep)[0]
        if top in ("_delta_log", "_change_data", "_staging",
                   "_deletion_vectors"):
            dirs[:] = []
            continue
        for fn in files:
            rel = os.path.normpath(os.path.join(rel_root, fn)) \
                .replace(os.sep, "/")
            rel = rel[2:] if rel.startswith("./") else rel
            if fn.startswith("deletion_vector_") and fn.endswith(".bin"):
                if rel in referenced_dvs:
                    continue
            elif fn.endswith(".parquet"):
                if rel in live or rel in protected:
                    continue
            else:
                continue
            full = os.path.join(root, fn)
            if os.path.getmtime(full) * 1000 >= cutoff_ms:
                continue
            candidates.append(rel)

    bytes_reclaimed = sum(
        os.path.getsize(os.path.join(table.path, p)) for p in candidates
    )
    if on_progress:
        on_progress({"phase": "scan", "candidates": len(candidates),
                     "bytes": bytes_reclaimed})
    if not dry_run:
        for p in candidates:
            try:
                os.remove(os.path.join(table.path, p))
            except OSError:
                pass
        if on_progress:
            on_progress({"phase": "delete", "deleted": len(candidates)})
    return {
        "filesDeleted": len(candidates),
        "bytesReclaimed": bytes_reclaimed,
        "dryRun": dry_run,
        "paths": sorted(candidates),
    }
