"""Tracing for the traced run: spans from wrapped layer functions, task
metrics from Spark's event log, and Catalyst phase times.

Wrappers are installed from outside the program. A function is replaced
at every attribute through which a caller can reach it: its defining
module and every loaded module of the program that bound it by name
(``deltalake_spark.delta.table`` does ``from ..stats import stats_json``,
so patching ``stats.stats_json`` alone would miss those calls). Methods
are replaced on their class. :meth:`Tracer.uninstall` puts every
original back, so an untraced run executes the program's own objects.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

# (module, attribute or Class.method, span name, info extractor)
Info = Callable[[tuple, dict, Any], dict]


def _prune_info(args, kwargs, result) -> dict:
    files = args[0] if args else kwargs.get("files", [])
    return {"considered": len(files), "skipped": int(result[1])}


def _rewrite_info(args, kwargs, result) -> dict:
    # DeltaTable._rewrite_commit(self, operation, remove_paths, new_df, ...)
    paths = args[2] if len(args) > 2 else kwargs.get("remove_paths", [])
    return {"operation": args[1] if len(args) > 1 else "",
            "files": len(paths), "version": result}


def _compact_info(args, kwargs, result) -> dict:
    return {"files": int(result.get("filesCompacted", 0)),
            "bytes": int(result.get("bytesCompacted", 0))}


TARGETS: list[tuple[str, str, str, Info | None]] = [
    ("deltalake_spark.session", "get_spark", "session.get_spark", None),
    ("deltalake_spark.functions.filters", "translate_filter",
     "functions.translate_filter", None),
    ("deltalake_spark.functions.projection", "apply_projection",
     "functions.apply_projection", None),
    ("deltalake_spark.functions.pipeline", "apply_pipeline",
     "functions.apply_pipeline", None),
    ("deltalake_spark.delta.snapshot", "load_snapshot",
     "delta.snapshot.load", None),
    ("deltalake_spark.delta.snapshot", "write_checkpoint",
     "delta.snapshot.checkpoint", None),
    ("deltalake_spark.delta.log", "write_commit", "delta.log.commit", None),
    ("deltalake_spark.delta.log", "read_commit", "delta.log.read_commit",
     None),
    ("deltalake_spark.delta.stats", "stats_json", "delta.stats.footer",
     None),
    ("deltalake_spark.delta.pruning", "prune_files", "delta.pruning.prune",
     _prune_info),
    ("deltalake_spark.delta.table", "DeltaTable._rewrite_commit",
     "delta.table.rewrite", _rewrite_info),
    ("deltalake_spark.delta.cdc", "write_cdc_file", "delta.cdc.write", None),
    ("deltalake_spark.streaming.consumer", "CDCConsumer.poll",
     "streaming.consumer.poll", None),
    ("deltalake_spark.delta.maintenance", "compact",
     "delta.maintenance.compact", _compact_info),
    ("deltalake_spark.operators.dedup", "minhash_dedup_incremental",
     "operators.dedup.probe_build", None),
]

#: modules whose by-name bindings are patched too
_CALLER_PREFIXES = ("deltalake_spark", "__spark_entry__")


def _program_modules() -> list[Any]:
    return [m for name, m in list(sys.modules.items())
            if m is not None and name.startswith(_CALLER_PREFIXES)]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    error: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory. Spans nest per thread: the gates warm-up
    runs on several client threads, and the streaming ``foreachBatch``
    callback runs on a thread of its own. A span belongs to the op the
    client is running when it starts (:attr:`op`)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []
        self._originals: dict[Callable, Any] = {}

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, **info: Any) -> int:
        stack = self._stack()
        span = Span(name, time.perf_counter(),
                    parent=stack[-1] if stack else -1, op=self.op, info=info)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int, error: str | None = None) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.error = error
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def wrap(self, name: str, fn: Callable, info: Info | None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            idx = self.begin(name)
            t1 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            except BaseException as e:
                self.end(idx, type(e).__name__)
                raise
            t2 = time.perf_counter()
            self.end(idx)
            if info is not None:
                self.spans[idx].info.update(info(args, kwargs, result))
            with self._lock:
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
            return result

        return traced

    # -- install / uninstall ---------------------------------------------

    def install(self, targets=TARGETS) -> None:
        import deltalake_spark

        # import every module first, so every by-name binding exists now
        for m in pkgutil.walk_packages(deltalake_spark.__path__,
                                       "deltalake_spark."):
            importlib.import_module(m.name)
        for mod_name, attr, span, info in targets:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._patch(cls, meth, self.wrap(span, orig, info), orig)
                continue
            orig = getattr(mod, attr)
            wrapper = self.wrap(span, orig, info)
            for holder in _program_modules():
                for key, val in list(vars(holder).items()):
                    if val is orig:
                        self._patch(holder, key, wrapper, orig)

    def _patch(self, holder: Any, key: str, wrapper: Callable,
               orig: Any) -> None:
        self._patches.append((holder, key, orig))
        self._originals[wrapper] = orig
        setattr(holder, key, wrapper)

    def uninstall(self) -> None:
        for holder, key, orig in reversed(self._patches):
            setattr(holder, key, orig)
        # a module imported after install may have bound a wrapper by name
        for holder in _program_modules():
            for key, val in list(vars(holder).items()):
                if callable(val) and val in self._originals:
                    setattr(holder, key, self._originals[val])
        self._patches.clear()
        self._originals.clear()

    @property
    def installed(self) -> int:
        return len(self._patches)

    # -- queries over spans ----------------------------------------------

    def of(self, name: str, ops: set[int] | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and (ops is None or s.op in ops)]

    def total(self, name: str, ops: set[int] | None = None) -> float:
        return sum(s.dur for s in self.of(name, ops))

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover."""
        out = [s.dur for s in self.spans]
        for s in self.spans:
            if s.parent >= 0:
                out[s.parent] -= s.dur
        return out

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time as ``self_s``."""
        with open(path, "w") as fh:
            for s, self_s in zip(self.spans, self.self_times()):
                fh.write(json.dumps({**s.__dict__, "self_s": self_s}) + "\n")


# --------------------------------------------------------------------------
# Catalyst phases and the event log
# --------------------------------------------------------------------------

def catalyst_phases(df) -> dict[str, float]:
    """analysis / optimization / planning ms of a collected DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        if phases.contains(key):
            out[key] = float(phases.apply(key).durationMs())
    return out


_TASK_FIELDS = ("tasks", "executor_run_s", "gc_s", "input_records",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _event_files(log_dir: str) -> list[str]:
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):  # rolling eventlog_v2_* directory
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(path, p) for p in parts)
        else:
            out.append(path)
    return out


def event_log_metrics(log_dir: str, workload: str,
                      intervals: dict[int, tuple[float, float]]
                      ) -> dict[int, dict[str, float]]:
    """Task metrics summed per op. A job belongs to the op named in its
    ``spark.job.description`` (``<workload>#<op>``); a job without one
    (the streaming engine sets its own) belongs to the op whose wall
    interval (epoch seconds) contains its submission time."""
    stage_op: dict[int, int] = {}
    per: dict[int, dict[str, float]] = {}

    def bucket(op: int) -> dict[str, float]:
        return per.setdefault(op, dict.fromkeys(("jobs",) + _TASK_FIELDS,
                                                0.0))

    prefix = workload + "#"
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    op = None
                    if desc.startswith(prefix):
                        op = int(desc[len(prefix):])
                    else:
                        t = ev.get("Submission Time", 0) / 1000.0
                        for k, (a, b) in intervals.items():
                            if a <= t <= b:
                                op = k
                                break
                    if op is None:
                        continue
                    bucket(op)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    b = bucket(op)
                    b["tasks"] += 1
                    b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    b["input_records"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read",
                                                         0))
                    b["shuffle_write_bytes"] += (m.get(
                        "Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    b["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return per


def spark_layer(per_op: dict[int, dict[str, float]], ops: list[int]
                ) -> dict[str, float]:
    """``spark.*`` per-layer metrics over the window ``ops``."""
    sums = dict.fromkeys(("jobs",) + _TASK_FIELDS, 0.0)
    for op in ops:
        for k, v in per_op.get(op, {}).items():
            sums[k] += v
    n = max(1, len(ops))
    out = {"spark.jobs_per_op": sums.pop("jobs") / n}
    out.update({f"spark.{k}": v for k, v in sums.items()})
    return out
