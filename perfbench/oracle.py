#!/usr/bin/env python3
"""Run the curation queries' DuckDB mirrors over a generated corpus.

  python3 perfbench/oracle.py --data DIR --sql SQL.json --out DIR

SQL.json maps query name -> mirror SQL (SparkEntry.oracleSql). Each result
lands in OUT/<name>-<md5(sql)[:12]>.parquet. A result already there is
reused: the mirror is run once per corpus and SQL text.
"""
import argparse
import glob
import hashlib
import json
import os
import sys

import duckdb


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--sql", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    with open(a.sql) as f:
        queries = json.load(f)
    os.makedirs(a.out, exist_ok=True)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(a.data, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    for name, sql in sorted(queries.items()):
        digest = hashlib.md5(sql.encode()).hexdigest()[:12]
        path = os.path.join(a.out, f"{name}-{digest}.parquet")
        if os.path.exists(path):
            continue
        tmp = path + ".tmp"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        os.rename(tmp, path)
        print(f"oracle {name}: {path}")


if __name__ == "__main__":
    main(sys.argv[1:])
