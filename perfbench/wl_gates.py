"""``gates``: build and collect the 21 headline gates over generated
fixtures, each pass in a seed-permuted order.

This is the roadmap's headline analytics path. At this size a gate is
bound by its build (fixture schema resolution, Python builders) and by
Catalyst planning, so layer (a) and (b) changes show here; the Delta log
is barely touched.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Iterator

import duckdb

import gen
from core import Context, Op, OpRecord
from tracing import catalyst_phases

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
WARM_THREADS = 4


class Gates:
    name = "gates"
    window = 21  # one pass

    def __init__(self) -> None:
        import __spark_entry__
        import bench
        from check_oracle import norm_rows

        self.names = list(bench.HEADLINE)
        self.window = len(self.names)
        self.builders = __spark_entry__.queries()
        self.twins = __spark_entry__.oracle_sql()
        self.norm_rows = norm_rows
        self.sizes: dict[str, int] = {}

    def setup(self, ctx: Context) -> None:
        from deltalake_spark.session import release_caches

        self.release = release_caches
        self.sf_dir = os.path.join(ctx.run_dir, "fixtures")
        tables = gen.fixture_tables(ctx.seed)
        gen.write_fixtures(tables, self.sf_dir)
        self.sizes = {k: v.num_rows for k, v in tables.items()}
        ctx.phase("inputs")
        # warm-up: one cold pass in the seed's pass-0 order (JIT, codegen,
        # class loading, fixture footers); not timed, not checked. A cold
        # pass is bound by one-off compilation, so the gates run on
        # WARM_THREADS client threads to spread it over the cores.
        order = gen.gate_order(ctx.seed, self.names, 0)
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            for f in [pool.submit(self._warm, ctx, n) for n in order]:
                f.result()
        self.release(ctx.spark)
        ctx.phase("warmup")

    def _warm(self, ctx: Context, name: str) -> None:
        self.builders[name](ctx.spark, self.sf_dir).collect()

    def _op(self, ctx: Context, name: str, first: bool) -> Op:
        tracer = ctx.tracer
        holder: dict[str, Any] = {}

        def run():
            if tracer is None:
                df = self.builders[name](ctx.spark, self.sf_dir)
                return df, df.collect()
            span = tracer.begin("entry.build", gate=name)
            df = self.builders[name](ctx.spark, self.sf_dir)
            tracer.end(span)
            span = tracer.begin("entry.run", gate=name)
            rows = df.collect()
            tracer.end(span)
            return df, rows

        def after(result):
            df, rows = result
            if tracer is not None:
                holder["catalyst"] = catalyst_phases(df)
            self.release(ctx.spark)
            return {"columns": list(df.columns),
                    "rows": [tuple(r) for r in rows], **holder}

        return Op(name, True, run, after=after, boundary=first, payload=name)

    def ops(self, ctx: Context) -> Iterator[Op]:
        n_pass = 1
        while True:
            order = gen.gate_order(ctx.seed, self.names, n_pass)
            for i, name in enumerate(order):
                yield self._op(ctx, name, i == 0)
            n_pass += 1

    def check(self, ctx: Context, records: list[OpRecord]) -> list[str]:
        """Each timed collect against its DuckDB twin under the oracle's
        exact-value rule (tools/check_oracle.norm_rows)."""
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t)}.parquet'")
        expected: dict[str, tuple[list[str], list]] = {}
        problems = []
        for rec in records:
            if not rec.ok:
                problems.append(f"{rec.kind}#{rec.index}: {rec.error}")
                continue
            if rec.kind not in expected:
                res = con.sql(self.twins[rec.kind])
                cols = list(res.columns)
                expected[rec.kind] = (sorted(cols),
                                      self.norm_rows(cols, res.fetchall()))
            cols, rows = expected[rec.kind]
            got = rec.result
            if (sorted(got["columns"]) != cols
                    or self.norm_rows(got["columns"], got["rows"]) != rows):
                rec.ok = False
                rec.error = "result differs from DuckDB twin"
                problems.append(f"{rec.kind}#{rec.index}: {rec.error}")
        con.close()
        return problems

    def report(self, ctx: Context, records: list[OpRecord]) -> dict:
        return {"sizes": self.sizes}

    def layers(self, ctx: Context, records: list[OpRecord]
               ) -> dict[str, float]:
        tr = ctx.tracer
        ops = {r.index for r in records}
        cat = [r.result.get("catalyst", {}) for r in records if r.ok]
        out = {
            "entry.build_s": tr.total("entry.build", ops),
            "entry.run_s": tr.total("entry.run", ops),
        }
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = sum(c.get(phase, 0.0) for c in cat)
        return out
