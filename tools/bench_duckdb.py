#!/usr/bin/env python3
"""Time each oracle SQL in DuckDB (the reference-class single-node
denominator for BASELINE.md). Reads oracle_sql.json from a Verify
output dir so the SQL text is exactly what the driver hash-checks.

Usage: bench_duckdb.py <sfDir> <verifyOutDir> [repeats=3]
Runs at SPARK_GRAFT_CPUS threads, the core count graft.Bench gives Spark
(default: every core).
Prints one JSON line: {"queries": {name: best_seconds, ...}}
"""
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir, repeats=3):
    con = duckdb.connect()
    threads = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    times = {}
    for name, sql in sorted(oracle.items()):
        best = None
        for _ in range(repeats):
            t0 = time.time()
            try:
                con.execute(sql).fetchall()
            except Exception as e:  # surface, don't fake a timing
                print(f"ERR {name}: {e}", file=sys.stderr)
                best = -1.0
                break
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 4)
    print(json.dumps({"sf": sf_dir, "queries": times}))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         int(sys.argv[3]) if len(sys.argv) > 3 else 3)
