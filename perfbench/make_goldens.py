#!/usr/bin/env python3
"""Regenerate perfbench/goldens.json with DuckDB.

Usage (from the repository root): python3 perfbench/make_goldens.py

Every operation any seed can generate (workloads.golden_ops) gets its
row count and order-insensitive hash from DuckDB over the same parquet
corpus: catalog keys run their `SparkEntry.oracleSql` text (dumped from
the built program), `DesDb.quick` operations run the same SQL text the
benchmark sends. The program being measured never produces
a golden.
"""
import json
import os
import subprocess
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import canon  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_sql():
    os.makedirs(run.WORK, exist_ok=True)
    run.build(time.monotonic() + 900)
    out = os.path.join(run.WORK, "oracle_sql.json")
    subprocess.run(["java", "-cp", ":".join(["/opt/spark/jars/*"] + run.CLASSES),
                    "graft.perfbench.Harness", "--dump-oracle", out],
                   check=True, stdin=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def main():
    oracle = oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '4GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{workloads.SF}/{t}.parquet')")
    ops = {}
    for op_id, (key, sql) in sorted(workloads.golden_ops().items()):
        if key is not None:
            if key not in oracle:
                sys.exit(f"{op_id}: key {key} has no oracle SQL")
            sql = oracle[key]
        t0 = time.monotonic()
        cur = con.execute(sql)
        rows = cur.fetchall()
        cols = [d[0] for d in cur.description]
        n, h = canon.result_hash(cols, rows)
        ops[op_id] = {"rows": n, "hash": h}
        print(f"{op_id:40} rows={n:7} hash={h} {time.monotonic() - t0:6.1f}s",
              flush=True)
    with open(os.path.join(run.HERE, "goldens.json"), "w") as f:
        json.dump({"sf": workloads.SF, "duckdb": duckdb.__version__, "ops": ops},
                  f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
