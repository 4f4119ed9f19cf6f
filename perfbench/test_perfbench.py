"""Tests of the benchmark's own helpers (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

import gen
import measure
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- tail percentile rule ---------------------------------------------------

@pytest.mark.parametrize("n", [11, 12, 19, 20, 37, 100, 101, 250, 1000])
def test_tail_leaves_at_least_ten_beyond_and_is_highest(n):
    xs = list(range(n))
    value, p, count = measure.tail(xs)
    assert count == n
    rank = math.ceil(n * p / 100)
    assert value == xs[rank - 1]
    assert n - rank >= 10                       # >= 10 samples beyond
    assert n - math.ceil(n * (p + 1) / 100) < 10  # the next one has fewer


def test_tail_examples():
    assert measure.tail(range(100)) == (89, 90.0, 100)
    assert measure.tail(range(1000)) == (989, 99.0, 1000)


def test_tail_too_few_samples_falls_back_to_median():
    assert measure.tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert measure.tail([]) == (0.0, 0.0, 0)


def test_kind_gmean_weighs_kinds_equally():
    got = measure.kind_p50_gmean({"a": [1.0, 1.0, 1.0, 100.0], "b": [4.0]})
    assert got == pytest.approx(2.0)


# -- generators -------------------------------------------------------------

def _plan_digest(seed, n_ops=30, n_batches=3):
    ops = gen.TablePlan(seed).ops()
    parts = []
    for _ in range(n_ops):
        op = next(ops)
        parts.append((op.kind, op.lo, op.hi, op.back,
                      gen.table_digest(op.rows) if op.rows else None))
    batches = gen.IngestPlan(seed, history=500).batches()
    for _ in range(n_batches):
        b = next(batches)
        parts.append((gen.table_digest(b.table), sorted(b.planted.items())))
    return parts


def test_generators_are_deterministic_per_seed():
    small = dict(gen.GATE_SIZES, lineitem=500, orders=200, events=300)
    a = {k: gen.table_digest(v)
         for k, v in gen.fixture_tables(7, small).items()}
    b = {k: gen.table_digest(v)
         for k, v in gen.fixture_tables(7, small).items()}
    c = {k: gen.table_digest(v)
         for k, v in gen.fixture_tables(8, small).items()}
    assert a == b
    assert a["lineitem"] != c["lineitem"]
    assert _plan_digest(3) == _plan_digest(3)
    assert _plan_digest(3) != _plan_digest(4)
    assert gen.gate_order(5, list("abcdef"), 1) == gen.gate_order(
        5, list("abcdef"), 1)


def test_table_ops_draw_ranges_from_live_keys():
    plan = gen.TablePlan(11)
    live = set(range(gen.TABLE_ORDERS))
    ops = plan.ops()
    for _ in range(60):
        op = next(ops)
        if op.kind in ("query", "pipeline", "time_travel", "update",
                       "delete"):
            assert op.lo in live
        if op.kind == "delete":
            live -= set(range(op.lo, op.hi))
        elif op.rows is not None:
            live |= set(op.rows.column("l_orderkey").to_pylist())


def test_planted_near_duplicates_are_one_token_edits():
    plan = gen.IngestPlan(2, history=2000)
    texts = dict(zip(plan.history.column("doc_id").to_pylist(),
                     plan.history.column("text").to_pylist()))
    batch = next(plan.batches())
    texts.update(zip(batch.table.column("doc_id").to_pylist(),
                     batch.table.column("text").to_pylist()))
    assert len(batch.planted) == int(gen.INGEST_BATCH * gen.INGEST_DUP_FRAC)
    for dup, orig in batch.planted.items():
        a, b = texts[dup].split(" "), texts[orig].split(" ")
        assert len(a) == len(b) >= gen.INGEST_DUP_MIN_WORDS
        assert sum(x != y for x, y in zip(a, b)) == 1


# -- metric names -----------------------------------------------------------

def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for name in list(e2e) + list(layers) + list(run.WORKLOADS):
        assert measure.METRIC_NAME.match(name), name


# -- tracing ----------------------------------------------------------------

def test_self_time_subtracts_direct_children_only():
    from tracing import Tracer

    tracer = Tracer()
    outer = tracer.begin("outer")
    mid = tracer.begin("mid")
    tracer.end(tracer.begin("inner"))
    tracer.end(mid)
    tracer.end(outer)
    for span, (start, end) in zip(tracer.spans, [(0, 10), (2, 6), (3, 4)]):
        span.start, span.end = start, end
    assert [s.parent for s in tracer.spans] == [-1, outer, mid]
    assert tracer.self_times() == [6, 3, 1]


def test_spans_nest_per_thread_under_concurrency():
    import threading

    from tracing import Tracer

    tracer = Tracer()
    got: dict[int, bool] = {}

    def client(k: int) -> None:
        ok = True
        for _ in range(200):
            outer = tracer.begin("outer", client=k)
            inner = tracer.begin("inner", client=k)
            ok &= tracer.spans[inner].parent == outer
            ok &= tracer.spans[outer].info["client"] == k
            tracer.end(inner)
            tracer.end(outer)
        got[k] = ok

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(k,))
                   for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert got == dict.fromkeys(range(16), True)
    assert len(tracer.spans) == 16 * 200 * 2
    outers = [s for s in tracer.spans if s.name == "outer"]
    assert all(s.parent == -1 for s in outers)


def test_wrappers_are_fully_removed_when_tracing_is_off():
    pytest.importorskip("pyspark")
    sys.path.insert(0, ROOT)
    from tracing import Tracer, _program_modules

    import deltalake_spark.delta.stats as stats
    import deltalake_spark.delta.table as table

    tracer = Tracer()
    tracer.install()
    try:
        assert tracer.installed > 0
        assert table.stats_json is stats.stats_json
        assert table.stats_json.__wrapped__ is not None
        assert table.DeltaTable._rewrite_commit.__wrapped__ is not None
        wrappers = set(tracer._originals)
    finally:
        tracer.uninstall()
    assert tracer.installed == 0
    for m in _program_modules():
        for k, v in vars(m).items():
            assert not (callable(v) and v in wrappers), (m.__name__, k)
    assert table.stats_json is stats.stats_json
    assert not hasattr(table.stats_json, "__wrapped__")
    assert not hasattr(table.DeltaTable._rewrite_commit, "__wrapped__")
