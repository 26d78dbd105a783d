#!/usr/bin/env python3
"""Benchmark-local test: the job counts the tracer attributes to three
queries must equal a fresh JobProbe-style census of the same queries
(perfbench.Census). Both read their counts only after draining Spark's
listener bus.

Usage: python3 perfbench/test_census.py    (from the repository root)
Exit 0 when every count matches.
"""
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

QUERIES = ["q1_pricing_summary", "q_conformal", "q_pagerank"]


def main():
    root = os.getcwd()
    classes, _ = build.build(root)
    sf_dir = run.sf_dir()
    work = os.path.join(root, ".bench_build", "perfbench", "census")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run.run_jvm(run.java_cmd(classes, "perfbench.Census", run.jvm_props(work),
                                      [sf_dir, ",".join(QUERIES)]), work, 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("census test", "passed" if rc == 0 else f"FAILED (exit {rc})")
    sys.exit(0 if rc == 0 else 1)


if __name__ == "__main__":
    main()
