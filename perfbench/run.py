"""Benchmark entry point: one workload, one fresh Spark session, one run.

    python3 perfbench/run.py --workload gates --seed 1 --seconds 5 --trace 0

Run from the repository root. The workloads are ``gates``,
``table_mixed`` and ``ingest_dedup`` (README.md says what each one
stresses). ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
re-runs the same workload with the layer wrappers and Spark's event log
on and prints the per-layer metrics. Report lines start with ``#``; the
last line of standard output is the JSON result. Everything the run
writes goes under ``.perfbench_run/`` (scratch, emptied per run) and
``.perfbench_out/`` (results and spans) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics of untraced runs: name -> unit
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_gmean_s": "s",
}

#: per-layer metrics of traced runs: name -> unit. Every workload prints
#: all of them; a layer a workload does not reach reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "entry.build_s": "s",
    "entry.run_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.input_records": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "functions.translate_filter_calls": "count",
    "functions.translate_filter_s": "s",
    "functions.apply_projection_s": "s",
    "functions.apply_pipeline_s": "s",
    "delta.snapshot.loads": "count",
    "delta.snapshot.loads_per_op": "count",
    "delta.snapshot.load_s": "s",
    "delta.snapshot.checkpoints": "count",
    "delta.snapshot.checkpoint_s": "s",
    "delta.log.commits": "count",
    "delta.log.commit_s": "s",
    "delta.log.read_commits": "count",
    "delta.log.conflicts": "count",
    "delta.stats.footer_reads": "count",
    "delta.stats.footer_s": "s",
    "delta.pruning.files_considered": "count",
    "delta.pruning.files_skipped": "count",
    "delta.pruning.skip_ratio": "ratio",
    "delta.pruning.prune_s": "s",
    "delta.table.files_rewritten": "count",
    "delta.table.rows_rewritten_per_row_changed": "ratio",
    "delta.cdc.write_s": "s",
    "delta.cdc.rows_written": "count",
    "streaming.consumer.poll_s": "s",
    "streaming.consumer.rows_delivered": "count",
    "delta.maintenance.compact_s": "s",
    "delta.maintenance.files_compacted": "count",
    "delta.maintenance.bytes_rewritten": "B",
    "streaming.sink.trigger_s": "s",
    "operators.dedup.probe_build_s": "s",
    "operators.dedup.index_rows": "count",
    "operators.dedup.records_read_per_batch_doc": "ratio",
    "operators.dedup.late_over_early": "ratio",
    "operators.dedup.dup_recall": "ratio",
    "trace.window_ops": "count",
    "trace.wrapper_overhead_frac": "ratio",
    "trace.ops_per_s": "1/s",
    "process.peak_rss_mb": "MB",
}

WORKLOADS = ("gates", "table_mixed", "ingest_dedup")


def _workload(name: str):
    if name == "gates":
        from wl_gates import Gates
        return Gates()
    if name == "table_mixed":
        from wl_table import TableMixed
        return TableMixed()
    from wl_ingest import IngestDedup
    return IngestDedup()


def _common_layers(tracer, window_ops: set[int]) -> dict[str, float]:
    """Per-layer metrics every workload shares, over the window's ops."""
    def count(name):
        return float(len(tracer.of(name, window_ops)))

    return {
        "functions.translate_filter_calls": count(
            "functions.translate_filter"),
        "functions.translate_filter_s": tracer.total(
            "functions.translate_filter", window_ops),
        "functions.apply_projection_s": tracer.total(
            "functions.apply_projection", window_ops),
        "functions.apply_pipeline_s": tracer.total(
            "functions.apply_pipeline", window_ops),
        "delta.snapshot.loads": count("delta.snapshot.load"),
        "delta.snapshot.loads_per_op": count("delta.snapshot.load")
        / max(1, len(window_ops)),
        "delta.snapshot.load_s": tracer.total("delta.snapshot.load",
                                              window_ops),
        "delta.snapshot.checkpoints": count("delta.snapshot.checkpoint"),
        "delta.snapshot.checkpoint_s": tracer.total(
            "delta.snapshot.checkpoint", window_ops),
        "delta.log.commits": count("delta.log.commit"),
        "delta.log.commit_s": tracer.total("delta.log.commit", window_ops),
        "delta.log.read_commits": count("delta.log.read_commit"),
        "delta.log.conflicts": float(sum(
            1 for s in tracer.of("delta.log.commit", window_ops)
            if s.error == "ConcurrencyError")),
        "delta.stats.footer_reads": count("delta.stats.footer"),
        "delta.stats.footer_s": tracer.total("delta.stats.footer",
                                             window_ops),
    }


def _stop(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
        import check_oracle  # noqa: F401
        import deltalake_spark.session
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}",
              file=sys.stderr)
        return 2

    load_before = os.getloadavg()[0]
    run_dir = os.path.join(ROOT, ".perfbench_run", args.workload)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.chdir(run_dir)

    from core import Context, closed_loop, end_to_end
    from measure import cpu_ticks, stamp, steal_frac, vm_hwm_mb
    from tracing import Tracer, event_log_metrics, spark_layer

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
        })
    spark = deltalake_spark.session.get_spark(
        f"perfbench-{args.workload}", cpus=os.cpu_count(), extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, ROOT, run_dir, args.seed, args.workload, tracer)
        ctx.setup_phases["session"] = ctx._mark - T_START
        wl = _workload(args.workload)
        wl.setup(ctx)
        setup_s = time.perf_counter() - T_START
        ticks = cpu_ticks()
        records = closed_loop(ctx, wl.ops(ctx), args.seconds,
                              wl.window if args.trace else 1)
        steal = steal_frac(ticks, cpu_ticks())
        problems = wl.check(ctx, records)
        report = wl.report(ctx, records)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb()
        info = stamp(spark, ROOT, args.seed, load_before, steal,
                     report.pop("sizes", {}))
    finally:
        _stop(spark)
        if tracer is not None:
            tracer.uninstall()

    e2e = end_to_end(records)
    e2e.update(setup_s=setup_s, peak_rss_mb=peak_rss, **report)
    failed = sum(1 for r in records if not r.ok)
    result = {
        "correct": not problems and failed == 0,
        "attempted": len(records),
        "failed": failed,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {"workload": args.workload, "stamp": info, "problems": problems,
              "setup_phases_s": ctx.setup_phases,
              "end_to_end": e2e, "ops": [
                  {"i": r.index, "kind": r.kind, "latency_s": r.latency,
                   "ok": r.ok, "error": r.error} for r in records]}
    if tracer is None:
        result["metrics"] = _metric_block(e2e, END_TO_END)
    else:
        window = records[:wl.window]
        ops = {r.index for r in window}
        ctx.per_op = event_log_metrics(
            os.path.join(run_dir, "eventlog"), args.workload,
            {r.index: (r.start, r.end) for r in records})
        layers = {"session.get_spark_s": tracer.total("session.get_spark")}
        layers.update(_common_layers(tracer, ops))
        layers.update(spark_layer(ctx.per_op, sorted(ops)))
        layers.update(wl.layers(ctx, window))
        busy = sum(r.latency for r in records)
        layers["trace.window_ops"] = float(len(window))
        layers["trace.wrapper_overhead_frac"] = tracer.overhead_s / busy
        layers["trace.ops_per_s"] = e2e["ops_per_s"]
        layers["process.peak_rss_mb"] = peak_rss
        result["metrics"] = _metric_block(layers, PER_LAYER)
        detail["layers"] = layers
        tracer.dump(os.path.join(out_dir, tag + ".spans.jsonl"))
    with open(os.path.join(out_dir, tag + ".json"), "w") as fh:
        json.dump({**detail, "result": result}, fh, indent=1, default=str)

    print("# stamp " + json.dumps(info, default=str))
    print("# setup_phases_s " + json.dumps(ctx.setup_phases))
    for p in problems:
        print(f"# check failed: {p}")
    print("# end_to_end " + json.dumps(_human(e2e)))
    print(json.dumps(result))
    return 0


def _human(e2e: dict) -> dict:
    """End-to-end figures with units, tails with their percentile and n."""
    units = dict(END_TO_END, read_p50_s="s", write_p50_s="s",
                 failed_frac="ratio", bytes_per_row="B/row", peak_rss_mb="MB")
    out = {k: {"value": e2e[k], "unit": u} for k, u in units.items()
           if k in e2e}
    for cls in ("read", "write"):
        if f"{cls}_tail_s" in e2e:
            out[f"{cls}_tail_s"] = {
                "value": e2e[f"{cls}_tail_s"], "unit": "s",
                "percentile": e2e[f"{cls}_tail_pct"],
                "samples": e2e[f"{cls}_n"]}
    out["kinds"] = e2e["kinds"]
    return out


if __name__ == "__main__":
    sys.exit(main())
