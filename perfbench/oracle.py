#!/usr/bin/env python3
"""Regenerates perfbench/lake_oracle.json: the DuckDB-oracle hash of
every lake query of the read_path workload over the fixture in perfbench/lake, from the
oracle SQL the engine registers (graft.SparkEntry.oracleSql).

    python3 perfbench/oracle.py

Run it only when the fixture or the query set changes; the stored
hashes are the reference the benchmark checks Spark's results against.
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from rowhash import result_hash  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    out = subprocess.run(
        ["java", "-cp", build.classpath(), "perfbench.Main", "--oracle-sql"],
        check=True, capture_output=True, text=True).stdout
    sqls = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{HERE}/lake/{t}.parquet'")
    oracle = {}
    for name in sorted(sqls):
        rel = con.sql(sqls[name])
        h, n = result_hash(rel.fetchall(), [d[0] for d in rel.description])
        oracle[name] = {"sha256": h, "rows": n}
        print(f"{name}: {n} rows", file=sys.stderr)
    with open(os.path.join(HERE, "lake_oracle.json"), "w") as f:
        json.dump(oracle, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
