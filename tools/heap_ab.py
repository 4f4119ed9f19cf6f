"""A/B the local-mode driver heap (r12 VERDICT ask #1): run a gate list
in a FRESH session at a given SPARK_DRIVER_MEM and print per-gate warm
minima. One process per heap config so each JVM starts clean.

Usage: SPARK_DRIVER_MEM=8g python tools/heap_ab.py [gate ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from deltalake_spark.session import get_spark, release_caches

GATES = sys.argv[1:] or [
    "minhash_neardup_groups",
    "delta_table_lifecycle",
    "asof_purchase_attribution",
    "q5_nation_volume",
    "q1_pricing_summary",
]


def main() -> int:
    qs = entry_mod.queries()
    bad = [name for name in GATES if name not in qs]
    if bad:
        print(f"heap_ab: unknown gate(s): {', '.join(bad)}\n"
              f"valid gates: {' '.join(sorted(qs))}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("heap-ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).collect()
    mem = spark.conf.get("spark.driver.memory")
    out = {}
    for name in GATES:
        fn = qs[name]
        samples = []
        for _ in range(4):  # 1 cold + 3 warm
            release_caches(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = (df.count() if name == "minhash_neardup_groups"
                 else len(df.collect()))
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {"cold": samples[0], "warm_min": min(samples[1:]),
                     "warm": samples[1:], "rows": n}
        print(f"# {mem} {name}: {out[name]}", file=sys.stderr)
    print(json.dumps({"mem": mem, "gates": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
