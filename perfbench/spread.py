#!/usr/bin/env python3
"""Runs one workload over several seeds and reports each end-to-end
metric's median and spread: the distance between the first and third
quartiles (statistics.quantiles, n=4) as a share of the median, next to
the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload probe_sweep --seeds 1-10 [--out FILE]

Seeds are given as a range `a-b` or a comma list. With --out, the per-seed
values are also written as JSON, so that two sets of runs can be compared:

    python3 perfbench/spread.py --compare A.json B.json

reports, per workload and metric, how far B's median is from A's as a
share of A's, against the bound. Sweeps of different workloads or core
counts are refused.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload: str, seed: int, seconds: int) -> tuple:
    """The run's result line and its record's core count."""
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode})")
    record = json.loads((HERE / ".results" / f"{workload}-s{seed}-t0.json").read_text())
    return json.loads(last), record["cores"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    if a.compare:
        first, second = (json.loads(Path(p).read_text()) for p in a.compare)
        for key in ("workload", "cores"):
            if first.get(key) != second.get(key):
                print(f"refused: the sweeps differ in {key} "
                      f"({first.get(key)} vs {second.get(key)})")
                return 2
        for name, bound in bounds.items():
            m1 = statistics.median(first["values"][name])
            m2 = statistics.median(second["values"][name])
            drift = (m2 - m1) / m1 if m1 else 0.0
            print(f"{first['workload']:14s} {name:10s} {m1:12.4f} {m2:12.4f} "
                  f"{drift:+8.1%}  bound {bound:.0%}")
        return 0

    values = {name: [] for name in bounds}
    cores = set()
    for s in seeds(a.seeds):
        res, n = run(a.workload, s, spec["run_seconds"])
        cores.add(n)
        ok = "ok" if res["correct"] else "NOT CORRECT"
        print(f"seed {s}: {ok} " + " ".join(
            f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        for name in bounds:
            values[name].append(res["metrics"][name]["value"])
    worst = 0.0
    for name, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        spread = (q[2] - q[0]) / med if med else 0.0
        if name != "setup_s":
            worst = max(worst, spread / bounds[name])
        print(f"{name:10s} median {med:12.4f}  spread {spread:7.1%}  "
              f"bound {bounds[name]:.0%}  ({spread / bounds[name]:.2f} of bound)")
    print(f"worst spread / bound, setup_s aside: {worst:.2f}")
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload,
                                           "cores": cores.pop() if len(cores) == 1 else None,
                                           "values": values}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
