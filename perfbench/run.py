#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints its metrics.

    python3 perfbench/run.py --workload probe_sweep --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark (perfbench/build.py), generates the
seeded inputs inside one JVM on local[C] (C = cores available, at most 4),
runs the workload's closed loop, checks the outputs, and prints every
metric by name with its unit. `--trace 0` gives the end-to-end metrics of
BENCHMARK.json, `--trace 1` the per-layer ones; the last line of stdout is
the JSON result. The full record (core count, JVM and Spark versions, seed,
input sizes, checks, leftovers) is written to perfbench/.results/, and a
traced run's spans to perfbench/.results/*.spans.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

MAX_CORES = 4
RUN_LIMIT_S = 170


def cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def metric_specs(trace: bool) -> list:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def overhead_line(record: dict, results: Path) -> str:
    """Traced wall_s minus the untraced wall_s of the same workload, seed,
    run length and core count, when an untraced record exists."""
    base = results / f"{record['workload']}-s{record['seed']}-t0.json"
    if not base.is_file():
        return "tracing overhead: no untraced record of this seed to compare with"
    other = json.loads(base.read_text())
    if (other["cores"], other["seconds"]) != (record["cores"], record["seconds"]):
        return "tracing overhead: untraced record differs in cores or seconds; not compared"
    traced = record["metrics"]["trace.wall_s"]
    plain = other["metrics"]["wall_s"]
    return (f"tracing overhead: traced wall_s {traced:.3f} s - untraced wall_s "
            f"{plain:.3f} s = {traced - plain:+.3f} s")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1

    started = time.monotonic()
    n = cores()
    results = HERE / ".results"
    results.mkdir(exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = HERE / ".work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = results / f"{name}.spans.jsonl"
    cmd = build.java_command(a.workload, a.seed, a.seconds, a.trace, work, n, spans)
    log = results / f"{name}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                  timeout=RUN_LIMIT_S, cwd=ROOT)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s (log: {log})", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = None
    for line in proc.stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            record = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or record is None:
        print(f"perfbench: JVM exited with {proc.returncode} and no result; "
              f"log: {log}", file=sys.stderr)
        sys.stderr.write("".join(log.read_text().splitlines(True)[-30:]))
        return 1
    record["run_s"] = time.monotonic() - started
    record["class_archive"] = any(x.startswith("-XX:SharedArchiveFile") for x in cmd)

    metrics = {}
    for m in metric_specs(bool(a.trace)):
        if m["name"] not in record["metrics"]:
            print(f"perfbench: workload did not report {m['name']}", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": record["metrics"][m["name"]], "unit": m["unit"]}
        print(f"{m['name']:32s} {record['metrics'][m['name']]:>14.6f} {m['unit']}")
    print(f"requests: {record['requests']} ({record['failed_requests']} failed), "
          f"latency samples: {record['latency_samples']}, beyond p75: "
          f"{record['samples_beyond_p75']}")
    print(f"output checks: {record['checks'] - record['failed_checks']}/{record['checks']} "
          f"passed ({', '.join(record['check_names'])}); fail_ratio "
          f"{record['fail_ratio']:.6f}")
    print(f"leftovers: {json.dumps(record['leftovers'])}")
    print(f"cores {record['cores']}, JVM {record['jvm']}, Spark {record['spark']}, "
          f"seed {record['seed']}, sizes {json.dumps(record['sizes'])}")
    if a.trace:
        print(overhead_line(record, results))
        print(f"spans: {spans}")
    (results / f"{name}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
