#!/usr/bin/env python3
"""Print the job timeline of an uncompressed Spark event log.

One line per Spark job, in submission order:

    job  submit_s  dur_s  gap_s  stages  tasks  scopes  description

- submit_s: seconds from the application start (or the first job) to the
  job's submission;
- dur_s: submission to completion;
- gap_s: seconds since the previous job completed (negative when the two
  overlap), i.e. driver time between jobs;
- stages, tasks: the job's stages that ran (skipped ones are left out)
  and their task count;
- scopes: the distinct RDD operation scopes of those stages (Exchange,
  WriteFiles, BroadcastExchange, ...);
- description: the job description, else its job group, else its short
  call site.

Usage:
    python3 tools/joblog.py <event-log> [--from JOB] [--to JOB]

Write the log with `-Dspark.eventLog.enabled=true
-Dspark.eventLog.compress=false -Dspark.eventLog.dir=<dir>`. <event-log>
is one log file, or the `eventlog_v2_<app-id>` directory a run leaves
under <dir>, whose `events_<n>_*` files are read in order.
"""
import argparse
import json
import os
import re
import sys


def scope_name(rdd):
    scope = rdd.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name")
    except ValueError:
        return None


def log_lines(path):
    if not os.path.isdir(path):
        files = [path]
    else:
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        if not parts:
            sys.exit("no events_* file under %s" % path)
        parts.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
        files = [os.path.join(path, n) for n in parts]
    for name in files:
        if name.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            sys.exit("%s is compressed; rerun with "
                     "-Dspark.eventLog.compress=false" % name)
        with open(name, encoding="utf-8") as f:
            yield from f


def read_jobs(path):
    app_start = None
    jobs = {}
    stage_jobs = {}
    for line in log_lines(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "id": e["Job ID"],
                "submit": e["Submission Time"],
                "end": None,
                "stages": {},
                "desc": props.get("spark.job.description")
                or props.get("spark.jobGroup.id")
                or "[%s]" % props.get("callSite.short", ""),
            }
            jobs[e["Job ID"]] = job
            for sid in e.get("Stage IDs", []):
                stage_jobs[sid] = job
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = stage_jobs.get(info["Stage ID"])
            if job is not None:
                names = [scope_name(r) for r in info.get("RDD Info", [])]
                job["stages"][info["Stage ID"]] = (
                    info.get("Number of Tasks", 0),
                    [n for n in names if n],
                )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
    ordered = sorted(jobs.values(), key=lambda j: (j["submit"], j["id"]))
    origin = app_start if app_start is not None else (
        ordered[0]["submit"] if ordered else 0)
    return ordered, origin


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--from", dest="first", type=int, default=None,
                    help="first job id to print")
    ap.add_argument("--to", dest="last", type=int, default=None,
                    help="last job id to print")
    args = ap.parse_args()
    jobs, origin = read_jobs(args.log)
    print("%5s %9s %7s %7s %6s %6s  %-48s %s" % (
        "job", "submit_s", "dur_s", "gap_s", "stages", "tasks", "scopes",
        "description"))
    prev_end = None
    shown = 0
    for j in jobs:
        gap = None if prev_end is None else (j["submit"] - prev_end) / 1e3
        if j["end"] is not None:
            prev_end = j["end"] if prev_end is None else max(prev_end, j["end"])
        if (args.first is not None and j["id"] < args.first) or (
                args.last is not None and j["id"] > args.last):
            continue
        scopes = []
        for _, names in j["stages"].values():
            for n in names:
                if n not in scopes:
                    scopes.append(n)
        dur = "" if j["end"] is None else "%.3f" % ((j["end"] - j["submit"]) / 1e3)
        print("%5d %9.3f %7s %7s %6d %6d  %-48s %s" % (
            j["id"], (j["submit"] - origin) / 1e3, dur,
            "" if gap is None else "%.3f" % gap,
            len(j["stages"]), sum(t for t, _ in j["stages"].values()),
            ",".join(scopes)[:48], " ".join(str(j["desc"]).split())[:100]))
        shown += 1
    print("%d jobs" % shown, file=sys.stderr)


if __name__ == "__main__":
    main()
