#!/usr/bin/env python3
"""Runs the benchmark over several seeds per workload and summarizes each
metric as median, quartiles and spread (interquartile range over median,
the quartiles as statistics.quantiles(values, n=4) gives them). The
summary is stamped with cpus, sf, git commit and Spark version; compare
two summaries with compare.py.

Usage (from the repository root):
    python3 perfbench/suite.py --seeds 1-10 [--workloads a,b] [--trace 0|1]
                               [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_list(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    layer = "per_layer" if a.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in spec[layer]}
    out = {"stamp": None, "run_seconds": spec["run_seconds"], "trace": a.trace, "workloads": {}}
    for w in workloads:
        runs = []
        for seed in seed_list(a.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(a.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: run.py exited {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append(res)
            art = json.load(open(os.path.join(
                ".bench_build", "perfbench", "runs", f"{w}-seed{seed}-trace{a.trace}.json")))
            stamp = {k: art["stamp"][k] for k in ("cpus", "sf", "git_commit",
                                                  "source_digest", "spark_version")}
            if out["stamp"] is None:
                out["stamp"] = stamp
            elif out["stamp"] != stamp:
                sys.exit(f"stamp changed mid-suite: {out['stamp']} vs {stamp}")
            print(w, seed, json.dumps(res), flush=True)
        metrics = {}
        for name in runs[0]["metrics"]:
            s = summarize([r["metrics"][name]["value"] for r in runs])
            b = bounds.get(name)
            s["bound"] = b
            s["within_third_of_bound"] = None if b is None else s["spread"] < b / 3
            metrics[name] = s
        out["workloads"][w] = {
            "runs": len(runs),
            "correct": all(r["correct"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "failed_frac": sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs),
            "metrics": metrics}
    for w, s in out["workloads"].items():
        print(f"{w}: correct={s['correct']} failed_frac={s['failed_frac']}")
        for n, m in s["metrics"].items():
            print(f"  {n:32s} median {m['median']:.4f}  spread {m['spread']:.4f}"
                  f"  bound {m['bound']}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
