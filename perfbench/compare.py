#!/usr/bin/env python3
"""Compares benchmark records written by run.py (perfbench/.results/*.json).

    python3 perfbench/compare.py BASE.json NEW.json [NEW2.json ...]

Records are compared only like-for-like: a pair whose core count, workload,
trace mode or run length differs is refused (exit code 2). For each metric
the script prints both values and the change as a share of the base, with
the direction that BENCHMARK.json marks as better.
"""
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SAME = ("cores", "workload", "trace", "seconds")


def main(argv: list) -> int:
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    base = json.loads(Path(argv[0]).read_text())
    status = 0
    for path in argv[1:]:
        rec = json.loads(Path(path).read_text())
        differ = [k for k in SAME if rec.get(k) != base.get(k)]
        if differ:
            print(f"refused: {path} differs from {argv[0]} in "
                  + ", ".join(f"{k} ({base.get(k)} vs {rec.get(k)})" for k in differ))
            status = 2
            continue
        print(f"{rec['workload']} on {rec['cores']} cores: {argv[0]} -> {path}")
        for name, old in base["metrics"].items():
            new = rec["metrics"].get(name)
            if new is None:
                continue
            share = (new - old) / old if old else float("nan")
            print(f"  {name:32s} {old:>14.6f} -> {new:>14.6f}  {share:+.1%} "
                  f"({better.get(name, '?')} is better)")
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
