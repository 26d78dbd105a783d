#!/usr/bin/env python3
"""Compares two suite summaries (suite.py --out) metric by metric against
the bounds in BENCHMARK.json. Refuses to compare summaries taken on
different core counts or scale factors: numbers from different cpus are
not comparable.

Usage: python3 perfbench/compare.py BASE.json NEW.json
Exit: 0 no end-to-end metric worse than its bound, 1 some metric worse,
      3 refused (different cpus or sf).
"""
import json
import sys


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = (json.load(open(p)) for p in sys.argv[1:])
    for key in ("cpus", "sf"):
        if base["stamp"][key] != new["stamp"][key]:
            print(f"refused: {key} differs ({base['stamp'][key]} vs {new['stamp'][key]})")
            sys.exit(3)
    spec = json.load(open("BENCHMARK.json"))
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worse = False
    for w, nw in new["workloads"].items():
        bw = base["workloads"].get(w)
        if bw is None:
            print(f"{w}: not in base")
            continue
        print(f"{w}:")
        for name, m in nw["metrics"].items():
            if name not in bw["metrics"]:
                continue
            b, n = bw["metrics"][name]["median"], m["median"]
            change = (n - b) / b if b else 0.0
            loss = change if better[name] == "lower" else -change
            verdict = ""
            if name in bound:
                spread = max(bw["metrics"][name]["spread"], m["spread"])
                if loss > bound[name]:
                    verdict, worse = "WORSE than bound", True
                elif abs(change) < spread:
                    verdict = "within noise"
                else:
                    verdict = "better" if loss < 0 else "within bound"
            print(f"  {name:34s} {b:14.4f} -> {n:14.4f}  {change:+8.2%}  {verdict}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
