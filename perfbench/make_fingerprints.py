#!/usr/bin/env python3
"""Records the result fingerprint of every query the query workloads run,
after checking each result against DuckDB once.

For each query the JVM writes Spark's result as parquet and its
fingerprint (perfbench.Fingerprint); here DuckDB runs the query's
SparkEntry.oracleSql over the same tables, and the two results are
compared the way tools/compare.py does (columns by name, rows sorted, md5
of the string-rendered frame). Only if every query matches is
perfbench/fingerprints.json rewritten. The benchmark's verify pass then
checks every run against these fingerprints.

Usage: python3 perfbench/make_fingerprints.py    (from the repository root)
"""
import glob
import hashlib
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon_hash(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.md5(pd.util.hash_pandas_object(df.astype(str), index=False)
                       .values.tobytes()).hexdigest()


def main():
    root = os.getcwd()
    classes, _ = build.build(root)
    sf_dir = run.sf_dir()
    work = os.path.join(root, ".bench_build", "perfbench", "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.join(work, "dump")
    rc = run.run_jvm(run.java_cmd(classes, "perfbench.Fingerprints", run.jvm_props(work),
                                  [sf_dir, dump]), work, 1800)
    if rc != 0:
        sys.exit(f"fingerprint JVM exited {rc}")
    spark = json.load(open(os.path.join(dump, "spark.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad = []
    for name, rec in spark.items():
        s = pd.concat([pd.read_parquet(p) for p in
                       sorted(glob.glob(f"{dump}/{name}/*.parquet"))], ignore_index=True)
        o = con.execute(rec["sql"]).fetchdf()
        ok = (len(s) == len(o) and sorted(s.columns) == sorted(o.columns)
              and canon_hash(s) == canon_hash(o))
        print("OK  " if ok else "FAIL", name, len(s), len(o))
        if not ok:
            bad.append(name)
    if bad:
        sys.exit(f"{len(bad)} queries disagree with DuckDB: {bad}")
    out = {"sf": os.path.basename(sf_dir), "duckdb": duckdb.__version__,
           "checked_against_duckdb": True,
           "queries": {n: {"fingerprint": r["fingerprint"]} for n, r in sorted(spark.items())}}
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
