#!/usr/bin/env python3
"""Derive the analytic workload's expected row counts from the registry's
DuckDB oracle SQL over the generated corpus, and write them to
perfbench/expected_counts.json.

    python3 perfbench/oracle_counts.py

Run from the repository root after one benchmark run has built the
runner. The corpus is fixed (corpus.CORPUS_SEED), so the counts only
change when the generator or an oracle changes; rerun this then."""

import json
import os
import shutil
import subprocess
import sys

import duckdb

import corpus
import run


def main():
    with open(os.path.join(run.BUILD, "classpath.txt")) as f:
        cp = f.read().strip()
    out = os.path.join(run.WORK, "oracle")
    shutil.rmtree(out, ignore_errors=True)
    corpus.write(out)
    sql_file = os.path.join(out, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "graftbench.OracleSql", sql_file], check=True)
    with open(sql_file) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in corpus.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet')")
    counts = {}
    for name, sql in sorted(oracles.items()):
        counts[name] = con.sql(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
        print(f"{name}: {counts[name]}", file=sys.stderr)
    with open(os.path.join(run.HERE, "expected_counts.json"), "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
