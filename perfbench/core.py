"""The closed loop shared by all workloads, and their common types."""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Protocol

from measure import kind_p50_gmean, median, tail
from tracing import Tracer


@dataclass
class Context:
    spark: Any
    root: str         # checkout root (the program lives here)
    run_dir: str      # everything this run writes
    seed: int
    workload: str
    tracer: Tracer | None = None
    #: event-log task metrics per op index (traced runs, after the run)
    per_op: dict = field(default_factory=dict)
    #: set-up phase -> seconds, in the order they ran
    setup_phases: dict = field(default_factory=dict)
    _mark: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Close the set-up phase ``name``: the time since the last one."""
        now = time.perf_counter()
        self.setup_phases[name] = now - self._mark
        self._mark = now


@dataclass
class Op:
    """One op of a workload's schedule. ``prepare`` makes its inputs and
    ``after`` does its bookkeeping; neither is timed. ``boundary`` marks
    the start of a pass (gates), cycle (table_mixed) or round of triggers
    (ingest_dedup): the loop only stops at a boundary."""
    kind: str
    is_read: bool
    run: Callable[[], Any]
    prepare: Callable[[], None] | None = None
    after: Callable[[Any], Any] | None = None
    boundary: bool = False
    payload: Any = None


@dataclass
class OpRecord:
    index: int
    kind: str
    is_read: bool
    start: float          # epoch seconds (event-log attribution)
    end: float
    latency: float        # perf_counter seconds
    ok: bool
    error: str | None = None
    result: Any = None
    payload: Any = None
    timed: bool = True
    notes: dict = field(default_factory=dict)


class Workload(Protocol):
    name: str
    #: ops per traced window; per-layer metrics cover exactly these, so
    #: their counts repeat across traced runs with the same seed
    window: int

    def setup(self, ctx: Context) -> None: ...

    def ops(self, ctx: Context) -> Iterator[Op]: ...

    def check(self, ctx: Context, records: list[OpRecord]) -> list[str]: ...

    def report(self, ctx: Context, records: list[OpRecord]
               ) -> dict[str, Any]: ...

    def layers(self, ctx: Context, records: list[OpRecord]
               ) -> dict[str, float]: ...


def execute(ctx: Context, op: Op, index: int, timed: bool) -> OpRecord:
    sc = ctx.spark.sparkContext
    if op.prepare is not None:
        op.prepare()
    sc.setJobDescription(f"{ctx.workload}#{index}")
    if ctx.tracer is not None:
        ctx.tracer.op = index
    start = time.time()
    t0 = time.perf_counter()
    try:
        result, ok, err = op.run(), True, None
    except Exception as e:  # an op failure is counted, the run goes on
        result, ok, err = None, False, f"{type(e).__name__}: {e}"
    latency = time.perf_counter() - t0
    end = time.time()
    if ctx.tracer is not None:
        ctx.tracer.op = -1
    sc.setJobDescription(None)
    rec = OpRecord(index, op.kind, op.is_read, start, end, latency, ok, err,
                   result, op.payload, timed)
    if op.after is not None and ok:
        rec.result = op.after(result)
    return rec


def closed_loop(ctx: Context, schedule: Iterator[Op], seconds: float,
                min_ops: int) -> list[OpRecord]:
    """One client, next op only after the previous one returns. Stops at
    the first boundary after ``seconds`` of op time and ``min_ops`` ops.
    Timed ops are numbered from 0 (warm-up ops count down from -1)."""
    records: list[OpRecord] = []
    busy = 0.0
    for index, op in enumerate(schedule):
        if op.boundary and busy >= seconds and len(records) >= min_ops:
            break
        rec = execute(ctx, op, index, timed=True)
        records.append(rec)
        busy += rec.latency
    return records


def end_to_end(records: list[OpRecord]) -> dict[str, Any]:
    """The end-to-end latency and throughput figures over timed ops."""
    timed = [r for r in records if r.timed]
    by_kind: dict[str, list[float]] = {}
    for r in timed:
        by_kind.setdefault(r.kind, []).append(r.latency)
    reads = [r.latency for r in timed if r.is_read]
    writes = [r.latency for r in timed if not r.is_read]
    busy = sum(r.latency for r in timed)
    ok = sum(1 for r in timed if r.ok)
    out: dict[str, Any] = {
        "ops_per_s": ok / busy if busy else 0.0,
        "op_p50_gmean_s": kind_p50_gmean(by_kind),
        "failed_frac": (len(timed) - ok) / len(timed) if timed else 0.0,
        "kinds": {k: {"n": len(v), "p50_s": median(v)}
                  for k, v in sorted(by_kind.items())},
    }
    for cls, xs in (("read", reads), ("write", writes)):
        if xs:
            value, pct, n = tail(xs)
            out[f"{cls}_p50_s"] = median(xs)
            out[f"{cls}_tail_s"] = value
            out[f"{cls}_tail_pct"] = pct
            out[f"{cls}_n"] = n
    return out
