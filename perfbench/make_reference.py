#!/usr/bin/env python3
"""One-off generator of the `queries` workload's reference answers.

For each listed query it runs the query's DuckDB oracle SQL (taken from the
engine's registry) over the benchmark's copy of the tables and writes the
rows to `perfbench/reference/<sf>/<query>.parquet`. The benchmark compares
every timed result with these rows: columns sorted by name, rows sorted,
values exact — the rules of `tools/compare.py`.

Usage: python3 perfbench/make_reference.py   (needs python duckdb)
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    cp = build.build()
    with tempfile.TemporaryDirectory(dir=build.BUILD_DIR) as tmp:
        out = os.path.join(tmp, "oracles.json")
        subprocess.run(build.java_cmd(cp, "1g") + ["perfbench.Main", "--dump-oracles", out],
                       check=True, cwd=tmp)
        oracles = json.load(open(out))
    for sf in sorted(os.listdir(os.path.join(HERE, "data"))):
        data = os.path.join(HERE, "data", sf)
        ref = os.path.join(HERE, "reference", sf)
        os.makedirs(ref, exist_ok=True)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for name, sql in oracles.items():
            path = os.path.join(ref, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            rows = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
            print(f"{sf} {name}: {rows} rows")


if __name__ == "__main__":
    main()
