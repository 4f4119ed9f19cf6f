"""``table_mixed``: reads and writes on one Delta table.

A lineitem-shaped table, range-clustered on ``l_orderkey`` with the
change feed on, takes a fixed cycle of ops: a Mongo range query with a
projection, an ``apply_pipeline`` $match/$group/$sort, a time-travel
query at head-k, a CDC consumer poll+commit, and the writes append,
update, delete, merge (upsert) and compact. This is the reference's own
surface; the work falls on snapshot replay, commit, footer stats, file
pruning and copy-on-write rewrites. Reads and writes share one table
layer, so a change that helps one and costs the other shows here.

Every DML's returned counts, every read and the final table are checked
against a DuckDB replay of the same op log.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator

import duckdb
import pyarrow.parquet as pq

import gen
from core import Context, Op, OpRecord, execute
from measure import dir_bytes
from tracing import catalyst_phases

KEY = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
PROJECTION = {"l_orderkey": 1, "l_linenumber": 1, "l_extendedprice": 1}
UPDATES = {"l_quantity": "l_quantity + 1",
           "l_extendedprice": "l_extendedprice + 1.5"}
PIPE_MIN_QTY = 10
#: untimed cycles before the timed ones. The first cycle of a fresh
#: session is the slowest by far; the second is still ~10% slower than
#: the third, but a second warm-up cycle does not fit the run budget
#: (README.md, "Sizes")
WARM_CYCLES = 1
COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"]


def _rng(op: gen.TableOp) -> dict:
    return {"l_orderkey": {"$gte": op.lo, "$lt": op.hi}}


def summarize(rows) -> tuple[int, int, int]:
    """(rows, integer-cents sum, key checksum) of collected rows."""
    n = cents = keys = 0
    for r in rows:
        n += 1
        cents += round(r["l_extendedprice"] * 100)
        keys += r["l_orderkey"] * 8 + r["l_linenumber"]
    return n, cents, keys


_SUMMARY_SQL = ("SELECT count(*), coalesce(sum(round(l_extendedprice * 100))"
                "::BIGINT, 0), coalesce(sum(l_orderkey * 8 + l_linenumber)"
                "::BIGINT, 0) FROM {t} {where}")


class TableMixed:
    name = "table_mixed"
    window = len(gen.CYCLE)  # one cycle

    def setup(self, ctx: Context) -> None:
        from deltalake_spark.delta.table import DeltaTable
        from deltalake_spark.streaming.consumer import CDCConsumer

        spark = ctx.spark
        self.plan = gen.TablePlan(ctx.seed)
        self.stage = os.path.join(ctx.run_dir, "stage")
        os.makedirs(self.stage)
        self.initial_path = os.path.join(self.stage, "initial.parquet")
        pq.write_table(self.plan.initial, self.initial_path)
        ctx.phase("inputs")
        self.table = DeltaTable(spark, os.path.join(ctx.run_dir, "lineitem"))
        self.table.write(
            spark.read.parquet(self.initial_path)
            .repartitionByRange(gen.TABLE_FILES, "l_orderkey")
            .sortWithinPartitions("l_orderkey", "l_linenumber"))
        self.table.enable_cdc()
        sizes = sorted(f["size"] for f in self.table.snapshot().files)
        # only files well under the clustered size get compacted: the
        # small append/merge outputs, never the range-clustered layout
        self.compact_target = sizes[len(sizes) // 2] // 2
        self.consumer = CDCConsumer(self.table, "bench",
                                    starting_version=self.table.version() + 1)
        self.schedule = self._ops(ctx)
        ctx.phase("build")
        # warm-up: whole cycles, not timed; their ops are in the replay
        self.warmup = []
        for i in range(WARM_CYCLES * len(gen.CYCLE)):
            self.warmup.append(
                execute(ctx, next(self.schedule), -1 - i, timed=False))
        self.bytes_before = dir_bytes(self.table.path)
        ctx.phase("warmup")

    def ops(self, ctx: Context) -> Iterator[Op]:
        return self.schedule

    def _ops(self, ctx: Context) -> Iterator[Op]:
        from deltalake_spark.functions.pipeline import apply_pipeline

        spark, t, tracer = ctx.spark, self.table, ctx.tracer

        def phases(df) -> dict:
            return catalyst_phases(df) if tracer is not None else {}

        for op in self.plan.ops():
            staged: dict[str, Any] = {}
            prepare = after = None
            if op.rows is not None:
                def prepare(op=op, staged=staged):
                    path = os.path.join(self.stage, f"op{op.index}.parquet")
                    pq.write_table(op.rows, path)
                    staged["df"] = spark.read.parquet(path)

            if op.kind == "query":
                def run(op=op):
                    df = t.query(_rng(op), PROJECTION)
                    return df, df.collect()

                def after(res):
                    return {"summary": summarize(res[1]),
                            "catalyst": phases(res[0])}
            elif op.kind == "time_travel":
                def run(op=op):
                    v = max(0, t.version() - op.back)
                    df = t.query(_rng(op), PROJECTION, version=v)
                    return df, df.collect(), v

                def after(res):
                    return {"summary": summarize(res[1]), "version": res[2],
                            "catalyst": phases(res[0])}
            elif op.kind == "pipeline":
                def run(op=op):
                    df = apply_pipeline(t.query(_rng(op)), [
                        {"$match": {"l_quantity": {"$gte": PIPE_MIN_QTY}}},
                        {"$group": {"_id": "$l_returnflag",
                                    "n": {"$sum": 1},
                                    "qty": {"$sum": "$l_quantity"}}},
                        {"$sort": {"_id": 1}},
                    ])
                    return df, df.collect()

                def after(res):
                    return {"groups": [(r["_id"], r["n"], r["qty"])
                                       for r in res[1]],
                            "catalyst": phases(res[0])}
            elif op.kind == "cdc_poll":
                def run():
                    first, last = self.consumer.position, t.version()
                    df = self.consumer.poll()
                    rows = df.groupBy("_change_type").count().collect()
                    self.consumer.commit()
                    return df, rows, (first, last)

                def after(res):
                    return {"changes": {r[0]: r[1] for r in res[1]},
                            "range": res[2], "catalyst": phases(res[0])}
            elif op.kind == "append":
                def run(staged=staged):
                    return t.write(staged["df"])
            elif op.kind == "update":
                def run(op=op):
                    return t.update(_rng(op), UPDATES)
            elif op.kind == "delete":
                def run(op=op):
                    return t.delete(_rng(op))
            elif op.kind == "merge":
                def run(staged=staged):
                    return t.merge(staged["df"], KEY,
                                   when_matched_update="*",
                                   when_not_matched_insert=True)
            else:
                def run():
                    return t.compact(target_file_size=self.compact_target)
            yield Op(op.kind, op.is_read, run, prepare=prepare, after=after,
                     boundary=op.cycle_start, payload=op)

    # -- correctness ------------------------------------------------------

    def check(self, ctx: Context, records: list[OpRecord]) -> list[str]:
        """Replay the whole op log (warm-up included) in DuckDB; compare
        each DML's counts, each read, each CDC poll and the final table."""
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM "
                    f"read_parquet('{self.initial_path}')")
        states: list[tuple[int, str]] = [(0, "s_init")]
        con.execute("CREATE TABLE s_init AS SELECT * FROM t")
        changes: dict[int, dict[str, int]] = {}
        problems: list[str] = []

        def where(op, extra=""):
            return (f"WHERE l_orderkey >= {op.lo} AND l_orderkey < {op.hi}"
                    + extra)

        def summary(table, op):
            return tuple(con.execute(_SUMMARY_SQL.format(
                t=table, where=where(op))).fetchone())

        def state_at(v):
            return [name for ver, name in states if ver <= v][-1]

        def fail(rec, msg):
            if rec.ok:
                rec.ok, rec.error = False, msg
            problems.append(f"{rec.kind}#{rec.index}: {msg}")

        for rec in self.warmup + records:
            op = rec.payload
            if not rec.ok:
                problems.append(f"{rec.kind}#{rec.index}: {rec.error}")
                continue
            res = rec.result
            if op.kind == "query":
                if res["summary"] != summary("t", op):
                    fail(rec, "query result differs from replay")
            elif op.kind == "time_travel":
                want = summary(state_at(res["version"]), op)
                if res["summary"] != want:
                    fail(rec, "time-travel result differs from replay")
            elif op.kind == "pipeline":
                want = con.execute(
                    "SELECT l_returnflag, count(*), sum(l_quantity) FROM t "
                    + where(op, f" AND l_quantity >= {PIPE_MIN_QTY}")
                    + " GROUP BY 1 ORDER BY 1").fetchall()
                if [tuple(g) for g in res["groups"]] != [tuple(w)
                                                        for w in want]:
                    fail(rec, "pipeline result differs from replay")
            elif op.kind == "cdc_poll":
                first, last = res["range"]
                want: dict[str, int] = {}
                for v in range(first, last + 1):
                    for k, n in changes.get(v, {}).items():
                        want[k] = want.get(k, 0) + n
                want = {k: n for k, n in want.items() if n}
                if res["changes"] != want:
                    fail(rec, f"cdc poll {res['changes']} != {want}")
            elif op.kind == "append":
                con.register("src", op.rows)
                con.execute("INSERT INTO t SELECT * FROM src")
                con.unregister("src")
                changes[res] = {"insert": op.rows.num_rows}
                states.append((res, self._snap(con, res)))
            elif op.kind == "update":
                n = summary("t", op)[0]
                if res["numUpdatedRows"] != n:
                    fail(rec, f"update count {res['numUpdatedRows']} != {n}")
                sets = ", ".join(f"{k} = {v}" for k, v in UPDATES.items())
                con.execute(f"UPDATE t SET {sets} " + where(op))
                changes[res["version"]] = {"update_preimage": n,
                                           "update_postimage": n}
                states.append((res["version"],
                               self._snap(con, res["version"])))
            elif op.kind == "delete":
                n = summary("t", op)[0]
                if res["numDeletedRows"] != n:
                    fail(rec, f"delete count {res['numDeletedRows']} != {n}")
                con.execute("DELETE FROM t " + where(op))
                changes[res["version"]] = {"delete": n}
                states.append((res["version"],
                               self._snap(con, res["version"])))
            elif op.kind == "merge":
                con.register("src", op.rows)
                on = ("t.l_orderkey = src.l_orderkey AND "
                      "t.l_linenumber = src.l_linenumber")
                n_upd = con.execute(
                    f"SELECT count(*) FROM t JOIN src ON {on}").fetchone()[0]
                n_ins = op.rows.num_rows - n_upd
                if (res["numUpdated"], res["numInserted"]) != (n_upd, n_ins):
                    fail(rec, f"merge counts {res} != upd {n_upd} "
                              f"ins {n_ins}")
                sets = ", ".join(f"{c} = src.{c}" for c in COLS
                                 if c not in ("l_orderkey", "l_linenumber"))
                con.execute(f"UPDATE t SET {sets} FROM src WHERE {on}")
                con.execute(f"INSERT INTO t SELECT src.* FROM src ANTI JOIN "
                            f"t ON {on}")
                con.unregister("src")
                changes[res["version"]] = {"update_preimage": n_upd,
                                           "update_postimage": n_upd,
                                           "insert": n_ins}
                states.append((res["version"],
                               self._snap(con, res["version"])))
        final = self.table.to_df().select(
            "l_orderkey", "l_linenumber", "l_extendedprice").collect()
        want = tuple(con.execute(_SUMMARY_SQL.format(
            t="t", where="")).fetchone())
        got = summarize(final)
        if got != want:
            problems.append(f"final table {got} != replay {want}")
        self.final_ok = got == want
        con.close()
        return problems

    @staticmethod
    def _snap(con, version: int) -> str:
        name = f"s_{version}"
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM t")
        return name

    # -- reporting --------------------------------------------------------

    def report(self, ctx: Context, records: list[OpRecord]) -> dict:
        touched = 0
        for rec in records:
            if not rec.ok or rec.is_read or rec.kind == "compact":
                continue
            res = rec.result
            if rec.kind == "append":
                touched += rec.payload.rows.num_rows
            elif rec.kind == "update":
                touched += res["numUpdatedRows"]
            elif rec.kind == "delete":
                touched += res["numDeletedRows"]
            else:
                touched += res["numUpdated"] + res["numInserted"]
        grown = dir_bytes(self.table.path) - self.bytes_before
        return {"bytes_per_row": grown / touched if touched else 0.0,
                "rows_touched": touched, "sizes": {
                    "initial_rows": self.plan.initial.num_rows,
                    "initial_files": gen.TABLE_FILES,
                    "log_version": self.table.version()}}

    def layers(self, ctx: Context, records: list[OpRecord]
               ) -> dict[str, float]:
        tr = ctx.tracer
        ops = {r.index for r in records}
        n = max(1, len(records))
        prune = tr.of("delta.pruning.prune", ops)
        considered = sum(s.info.get("considered", 0) for s in prune)
        skipped = sum(s.info.get("skipped", 0) for s in prune)
        rewrites = tr.of("delta.table.rewrite", ops)
        rewritten_rows, changed_rows = self._rewrite_rows(records)
        compacts = tr.of("delta.maintenance.compact", ops)
        reads = [r.result for r in records if r.ok and r.is_read]
        out = {
            "delta.pruning.files_considered": considered,
            "delta.pruning.files_skipped": skipped,
            "delta.pruning.skip_ratio": skipped / considered
            if considered else 0.0,
            "delta.pruning.prune_s": tr.total("delta.pruning.prune", ops),
            "delta.table.files_rewritten": sum(
                s.info.get("files", 0) for s in rewrites
                if s.info.get("operation") != "OPTIMIZE"),
            "delta.table.rows_rewritten_per_row_changed":
                rewritten_rows / changed_rows if changed_rows else 0.0,
            "delta.cdc.write_s": tr.total("delta.cdc.write", ops),
            "delta.cdc.rows_written": float(changed_rows_cdc(records)),
            "streaming.consumer.poll_s": tr.total("streaming.consumer.poll",
                                                  ops),
            "streaming.consumer.rows_delivered": float(sum(
                sum(r["changes"].values()) for r in reads
                if "changes" in r)),
            "delta.maintenance.compact_s": tr.total(
                "delta.maintenance.compact", ops),
            "delta.maintenance.files_compacted": float(sum(
                s.info.get("files", 0) for s in compacts)),
            "delta.maintenance.bytes_rewritten": float(sum(
                s.info.get("bytes", 0) for s in compacts)),
        }
        cat = [r.get("catalyst", {}) for r in reads]
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = sum(c.get(phase, 0.0) for c in cat)
        out["delta.snapshot.loads_per_op"] = len(
            tr.of("delta.snapshot.load", ops)) / n
        return out

    def _rewrite_rows(self, records: list[OpRecord]) -> tuple[int, int]:
        """Rows written by DELETE/UPDATE/MERGE commits (from their add
        actions' stats) and rows those ops changed (commit counts)."""
        from deltalake_spark.delta import log as dlog

        written = changed = 0
        for rec in records:
            if not rec.ok or rec.kind not in ("update", "delete", "merge"):
                continue
            res = rec.result
            for action in dlog.read_commit(self.table.path, res["version"]):
                add = action.get("add")
                if add and add.get("stats"):
                    written += json.loads(add["stats"]).get("numRecords", 0)
            changed += (res.get("numUpdatedRows", 0)
                        + res.get("numDeletedRows", 0)
                        + res.get("numUpdated", 0)
                        + res.get("numInserted", 0))
        return written, changed


def changed_rows_cdc(records: list[OpRecord]) -> int:
    """Change-feed rows the window's commits wrote (from verified
    counts: an update writes a pre- and a post-image)."""
    n = 0
    for rec in records:
        if not rec.ok or rec.is_read or rec.kind == "compact":
            continue
        res = rec.result
        if rec.kind == "append":
            n += rec.payload.rows.num_rows
        elif rec.kind == "update":
            n += 2 * res["numUpdatedRows"]
        elif rec.kind == "delete":
            n += res["numDeletedRows"]
        else:
            n += 2 * res["numUpdated"] + res["numInserted"]
    return n
