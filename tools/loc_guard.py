#!/usr/bin/env python3
"""Source-shape guards. Exit 1 on any violation.

1. Registry file size: fail when any registry file outgrows 1500 lines.
   The round-7 merge-conflict problem was a single 4752-line SparkEntry.scala
   absorbing ~8 new queries per round; the round-8 fix split it into
   per-family files under src/main/scala/graft/registry/. This guard keeps
   that fix from silently rebuilding: TextAnalysisRegistry.scala was already
   at 1135 lines one round after the split. When a file trips the limit,
   split a coherent query family out into a new registry file (and wire it
   into SparkEntry's aggregation) instead of raising the limit.

2. One commit protocol: fail when `Files.createLink` (the atomic
   create-if-absent commit publish) appears in any src/main file other than
   graft/lake/Delta.scala, or more than once there. The lake keeps one table
   format, the Delta log; a second publish site is a second commit protocol
   growing back (the retired TxTable manifest format was one), and a second
   site inside Delta.scala is a second commit envelope whose commitInfo,
   in-commit timestamp and staging-file cleanup can drift from the one
   `publish` there.

3. One commit-file reader: fail when `Files.readAllLines` appears more
   than once in graft/lake/Delta.scala. Every parse of a `_delta_log`
   commit file (snapshot replay, history, time travel, the change feed,
   commit sizes) goes through the one private reader there; a second
   read site is a second copy of the commit-JSON format growing back.

Run from the repo root as part of the verify recipe.
"""
import sys
from pathlib import Path

LIMIT = 1500
REGISTRY = Path("src/main/scala/graft/registry")
MAIN = Path("src/main/scala")
PUBLISH = "Files.createLink"
PUBLISH_HOME = MAIN / "graft/lake/Delta.scala"
READER = "Files.readAllLines"


def registry_violations():
    violations = []
    for f in sorted(REGISTRY.glob("*.scala")):
        n = sum(1 for _ in f.open())
        status = "FAIL" if n > LIMIT else "ok"
        print(f"  {status:4} {n:5} {f.name}")
        if n > LIMIT:
            violations.append((f.name, n))
    if violations:
        print(f"FAIL: {len(violations)} registry file(s) exceed {LIMIT} lines — "
              "split a query family into a new file instead of growing these:")
        for name, n in violations:
            print(f"  {name}: {n}")
    else:
        print(f"OK: all registry files within {LIMIT} lines")
    return violations


def publish_violations():
    violations = [f for f in sorted(MAIN.rglob("*.scala"))
                  if f != PUBLISH_HOME and PUBLISH in f.read_text(errors="replace")]
    if violations:
        print(f"FAIL: {PUBLISH} outside {PUBLISH_HOME} — commit through "
              "graft.lake.DeltaTable instead of a second commit protocol:")
        for f in violations:
            print(f"  {f}")
    n = PUBLISH_HOME.read_text(errors="replace").count(PUBLISH)
    if n > 1:
        print(f"FAIL: {PUBLISH} appears {n} times in {PUBLISH_HOME} — every "
              "commit goes through its one publish envelope instead:")
        violations.append(PUBLISH_HOME)
    if not violations:
        print(f"OK: {PUBLISH} appears only in {PUBLISH_HOME}, {n} time(s)")
    return violations


def reader_violations():
    n = PUBLISH_HOME.read_text(errors="replace").count(READER)
    if n > 1:
        print(f"FAIL: {READER} appears {n} times in {PUBLISH_HOME} — read "
              "commit files through its one commit-file reader instead:")
        return [PUBLISH_HOME]
    print(f"OK: {READER} appears {n} time(s) in {PUBLISH_HOME}")
    return []


def main():
    bad = registry_violations() + publish_violations() + reader_violations()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
