#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program from source (first
run only, see build.py), starts one JVM with Spark on local[nproc], runs
the workload as a single closed-loop client and prints, as the last line
of standard output, one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1.

Every run also leaves a stamped artifact (cpus, sf, git commit, source
digest, Spark version, every op's latency) under
.bench_build/perfbench/runs/, and with --trace 1 its spans beside it.

Environment: PERFBENCH_SF_DIR (default ~/testdata/sf0.1), the sf0.1
tables the workloads read; SPARK_HOME (default /opt/spark), whose jars
are the program's classpath and compiler.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# A fixed heap and young generation under the parallel collector: the
# resident set then follows the program's retained data, not GC sizing.
# The metaspace starts large enough that class generation during set-up
# does not trigger full collections.
HEAP = "3g"
YOUNG = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sf_dir():
    return os.environ.get("PERFBENCH_SF_DIR",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def cpus():
    return len(os.sched_getaffinity(0))


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def java_cmd(classes, main, props, args):
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), main]
    return cmd + args


def jvm_props(work):
    """Keep every file the JVM writes inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {"java.io.tmpdir": tmp, "spark.local.dir": tmp, "spark.hadoop.hadoop.tmp.dir": tmp,
            "graft.warehouse": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC",
            "user.timezone": "UTC"}


def run_jvm(cmd, work, timeout):
    """Run a JVM in `work`, its stdout sent to our stderr; returns its exit
    code, or None when it had to be killed."""
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"unknown workload {a.workload}")
    try:
        classes, src_digest = build.build(root)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    sf = sf_dir()
    if not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        sys.exit(f"no sf tables at {sf} (set PERFBENCH_SF_DIR)")

    base = os.path.join(root, ".bench_build", "perfbench")
    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus()), "--sf-dir", sf,
            "--fingerprints", os.path.join(HERE, "fingerprints.json"),
            "--work", work, "--out", out, "--spans", os.path.join(runs, tag + "-spans.json")]
    try:
        launch_ms = int(time.time() * 1000)
        cmd = java_cmd(classes, "perfbench.Main", jvm_props(work),
                       args + ["--launch-ms", str(launch_ms)])
        rc = run_jvm(cmd, work, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
        res = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    layer = "per_layer" if a.trace else "end_to_end"
    got = res[layer]
    metrics = {}
    for m in spec[layer]:
        if m["name"] not in got:
            sys.exit(f"run reported no {m['name']}")
        metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
    res["stamp"] = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                    "trace": a.trace, "cpus": res["cpus"], "sf": os.path.basename(sf),
                    "git_commit": git_commit(root), "source_digest": src_digest,
                    "spark_version": res["spark_version"]}
    with open(os.path.join(runs, tag + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)
    for f in res["failures"]:
        print("FAILED", f, file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
