#!/usr/bin/env python3
"""Write expected_rows.json: the row count of every face's oracle SQL.

Run from the repository root:

    python3 perfbench/oracle_rows.py

Builds the engine like run.py, dumps `SparkEntry.oracleSql`, runs each
distinct SQL text through duckdb over the benchmark's parquet files and
records `count(*)` per face. run.py compares every timed `count()` with it.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

import run

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main():
    jar, _ = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp",
                        jar + os.pathsep + run.JARS, "perfbench.PerfBench",
                        "dump=oracle", "out=" + out], check=True)
        with open(out) as fh:
            oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    counts, by_text = {}, {}
    for name, sql in sorted(oracle.items()):
        text = sql.strip().rstrip(";")
        if text not in by_text:
            by_text[text] = con.sql(f"SELECT count(*) FROM ({text})").fetchone()[0]
            print(f"{name}: {by_text[text]}", file=sys.stderr, flush=True)
        counts[name] = by_text[text]
    doc = {"data": os.path.relpath(run.DATA, run.HERE),
           "source": "SparkEntry.oracleSql through duckdb " + duckdb.__version__,
           "rows": counts}
    with open(os.path.join(run.HERE, "expected_rows.json"), "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
