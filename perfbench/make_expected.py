#!/usr/bin/env python3
"""Writes perfbench/expected.json: for every registry row the benchmark runs,
the DuckDB oracle's result (`SparkEntry.oracleSql`) on the benchmark's
generated tables, as column names, row count and canonical hash.

Run it from the repository root after a benchmark build, whenever the row
lists, the table generator or an oracle query change:

    python3 perfbench/make_expected.py
"""
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build", "perfbench")
    cp = run.build(root, bdir)
    work = os.path.join(bdir, "work", "expected")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    subprocess.run(run.java_cmd(cp, work) + ["--mode", "oracle-sql", "--out", sql_file],
                   check=True, stdout=subprocess.DEVNULL)
    with open(sql_file) as f:
        oracle = json.load(f)
    tables = os.path.join(work, "tables")
    gen_tables.write(tables, run.TABLES_SF, run.TABLES_SEED)
    con = duckdb.connect()
    for t in gen_tables.tables(run.TABLES_SF, run.TABLES_SEED):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    expected = {}
    for rows in run.WORKLOADS.values():
        for row in rows or []:
            cur = con.execute(oracle[row])
            cols = [d[0] for d in cur.description]
            data = cur.fetchall()
            expected[row] = {"cols": cols, "rows": len(data),
                             "hash": metrics.canon_hash(cols, data)}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(expected)} rows written to perfbench/expected.json")


if __name__ == "__main__":
    main()
