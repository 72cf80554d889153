#!/usr/bin/env python3
"""Recompute perfbench/oracles.json: the digest of each checked output,
from graft's own oracle SQL (SparkEntry.oracleSql) run in DuckDB over the
benchmark's input tables.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 1  # builds
    python3 perfbench/make_oracles.py

Only needed when a checked query's definition or the inputs change.
"""
import json
import os
import subprocess

import duckdb

import digest

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    with open(os.path.join(HERE, "target", "launch.json")) as f:
        launch = json.load(f)
    sql = json.loads(subprocess.run(
        ["java", "-cp", os.pathsep.join(launch["classpath"]),
         "graftbench.OracleSql"], check=True, capture_output=True,
        text=True).stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA}/{t}.parquet')")
    digests = {}
    for name in sorted(sql):
        rel = con.sql(sql[name])
        digests[name] = digest.of_rows(rel.columns, rel.fetchall())
        print(name, digests[name]["rows"], "rows")
    with open(os.path.join(HERE, "oracles.json"), "w") as f:
        json.dump({"data": "data/sf0.01", "digests": digests}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
