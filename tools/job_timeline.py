#!/usr/bin/env python3
"""Per-job timeline of repeated SQL executions, from a Spark event log.

Reads one uncompressed Spark event log (JSON lines: a file, or a rolling
`eventlog_v2_*` directory of `events_<n>_*` files) and, for the SQL
executions whose call site contains MATCH, prints each job's gap, run time
and task count as medians over the last N such executions:

  pre      driver time before the execution starts: from the end of the
           previous SQL execution (any call site) to this one's start
  job k    gap: from the execution start, or the previous job's end, to
           the job's submission; run: submission to completion; tasks:
           tasks that ran (skipped stages run none)
  tail     from the last job's end to the execution's end
  total    pre + the execution, i.e. previous execution end to this end

Executions with a different job count from the most common one are counted
and left out of the medians.

Enable the log without changing the program, for example:

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false \
    -Dspark.eventLog.dir=/tmp/eventlog" python3 perfbench/run.py --workload ask_serve --seed 1

then:

  python3 tools/job_timeline.py /tmp/eventlog/eventlog_v2_local-... --match Workloads.scala:244
"""
import argparse
import collections
import json
import os
import re
import statistics
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def log_lines(path):
    """The log's lines, through every part of a rolling log in order."""
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if re.match(r"events_\d+_", p)]
        files = [os.path.join(path, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name, encoding="utf-8") as f:
            yield from f


def read_log(path):
    """Executions in start order, each a dict of call site, start, end and
    jobs; each job a dict of submit, end and tasks."""
    execs = {}
    stage_job = {}
    jobs = {}
    for line in log_lines(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == SQL_START:
            execs[e["executionId"]] = {
                "site": (e.get("description") or "") + "\n" + (e.get("details") or ""),
                "start": e["time"], "end": None, "jobs": []}
        elif kind == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            job = {"submit": e["Submission Time"], "end": None, "tasks": 0}
            jobs[e["Job ID"]] = job
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
            if exec_id is not None and int(exec_id) in execs:
                execs[int(exec_id)]["jobs"].append(job)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            if job in jobs:
                jobs[job]["tasks"] += 1
    return [execs[k] for k in sorted(execs, key=lambda k: execs[k]["start"])]


def timeline(execs, match, last):
    """Rows of (step, median gap, median run, median tasks) and the job-count
    histogram of the matching executions."""
    chosen = []
    prev_end = None
    for x in execs:
        if match in x["site"] and x["end"] is not None and prev_end is not None \
                and all(j["end"] is not None for j in x["jobs"]):
            chosen.append((prev_end, x))
        if x["end"] is not None:
            prev_end = x["end"] if prev_end is None else max(prev_end, x["end"])
    chosen = chosen[-last:]
    counts = collections.Counter(len(x["jobs"]) for _, x in chosen)
    if not chosen:
        return [], counts
    n_jobs = counts.most_common(1)[0][0]
    kept = [(p, x) for p, x in chosen if len(x["jobs"]) == n_jobs]
    med = statistics.median
    rows = [("pre", med(x["start"] - p for p, x in kept), None, None)]
    for k in range(n_jobs):
        gaps, runs, tasks = [], [], []
        for _, x in kept:
            jobs = sorted(x["jobs"], key=lambda j: j["submit"])
            since = x["start"] if k == 0 else jobs[k - 1]["end"]
            gaps.append(jobs[k]["submit"] - since)
            runs.append(jobs[k]["end"] - jobs[k]["submit"])
            tasks.append(jobs[k]["tasks"])
        rows.append((f"job {k + 1}", med(gaps), med(runs), med(tasks)))
    if n_jobs:
        rows.append(("tail", med(x["end"] - max(j["end"] for j in x["jobs"]) for _, x in kept), None, None))
    rows.append(("total", med(x["end"] - p for p, x in kept), None, None))
    return rows, counts


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="uncompressed Spark event log: a file or a rolling-log directory")
    ap.add_argument("--match", required=True, help="substring of the executions' call site")
    ap.add_argument("--last", type=int, default=30, help="medians over the last N matching executions")
    args = ap.parse_args(argv)
    rows, counts = timeline(read_log(args.log), args.match, args.last)
    if not rows:
        print(f"no finished SQL execution matches {args.match!r}", file=sys.stderr)
        return 1
    hist = ", ".join(f"{n} jobs: {c}" for n, c in sorted(counts.items()))
    print(f"executions matching {args.match!r}: {sum(counts.values())} ({hist}); medians in ms")
    print(f"{'step':<8} {'gap':>8} {'run':>8} {'tasks':>6}")
    for step, gap, run, tasks in rows:
        fmt = lambda v: "" if v is None else f"{v:g}"
        print(f"{step:<8} {fmt(gap):>8} {fmt(run):>8} {fmt(tasks):>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
