#!/usr/bin/env python3
"""Per-SQL-execution summary of a Spark event log.

Usage:

    python3 dev/evlog_sql.py <event-log> [--min-jobs N] [--grep TEXT]

For every SQL execution it prints one line: the execution id, its start
(seconds after the application started), its wall time, the jobs and
tasks it ran, and its call site (the first frames of the code that
started it). Jobs that ran outside any SQL execution get a line of their
own, labeled `job-<id>`, with its last stage's name (`<op> at <file>:<line>`). A last line gives
the totals of the printed lines.

The log is a plain JSON-lines file, a `.zstd` one read through the `zstd`
command-line tool, or a rolling-log directory (`eventlog_v2_<app>`, whose
`events_<n>_<app>.zstd` parts are read in order; what Spark 4 writes by
default). An `.inprogress` log is read as far as it goes. To write event logs from a
JVM without changing its code, e.g. a benchmark run:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev" \\
        python3 perfbench/run.py --workload migrate_chat --seed 1 --seconds 1 --trace 0

(`/tmp/ev` must exist first.)
"""
import argparse
import json
import os
import re
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
FRAME = re.compile(r"\(([A-Za-z0-9_$]+\.scala):(\d+)\)")


def lines(path):
    if os.path.isdir(path):  # a rolling log: events_<n>_<app>[.zstd] in order
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [l for f in parts for l in lines(os.path.join(path, f))]
    if path.endswith(".zstd") or path.endswith(".zstd.inprogress"):
        out = subprocess.run(["zstd", "-dcq", path], stdout=subprocess.PIPE, check=False).stdout
        return out.decode("utf-8", "replace").splitlines()
    with open(path, encoding="utf-8", errors="replace") as f:
        return f.read().splitlines()


def call_site(details, frames=3):
    """The first `frames` Scala frames outside Spark's and Scala's own code."""
    found = []
    for line in (details or "").splitlines():
        m = FRAME.search(line)
        if m and not line.strip().startswith(("org.apache.spark.", "scala.", "java.")):
            found.append(f"{m.group(1)}:{m.group(2)}")
    return "<".join(found[:frames]) or "-"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--min-jobs", type=int, default=0,
                    help="print only executions with at least this many jobs")
    ap.add_argument("--grep", default=None, help="print only lines containing TEXT")
    a = ap.parse_args()

    app_start = None
    execs = {}        # execution id -> dict(start, end, site)
    jobs = {}         # job id -> dict(exec, start, end, site)
    stage_job = {}    # stage id -> job id
    tasks = {}        # job id -> finished tasks
    for raw in lines(a.log):
        try:
            e = json.loads(raw)
        except ValueError:
            continue  # a truncated last line of an in-progress log
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e.get("Timestamp")
        elif kind == SQL_START:
            execs[e["executionId"]] = {"start": e["time"], "end": None,
                                       "site": call_site(e.get("details"))}
        elif kind == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            jid = e["Job ID"]
            stages = e.get("Stage Infos") or []
            last = max(stages, key=lambda x: x["Stage ID"]) if stages else {}
            jobs[jid] = {"exec": int(ex) if ex is not None else None,
                         "start": e["Submission Time"], "end": None,
                         "site": last.get("Stage Name", "-")}
            for s in e.get("Stage IDs", []):
                stage_job[s] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is not None:
                tasks[jid] = tasks.get(jid, 0) + 1

    if app_start is None:
        starts = [x["start"] for x in list(execs.values()) + list(jobs.values())]
        app_start = min(starts) if starts else 0

    rows = []  # (start ms, label, wall s, jobs, tasks, site)
    per_exec = {}
    for jid, j in jobs.items():
        if j["exec"] is None:
            wall = ((j["end"] or j["start"]) - j["start"]) / 1000
            rows.append((j["start"], f"job-{jid}", wall, 1, tasks.get(jid, 0), j["site"]))
        else:
            n, t = per_exec.get(j["exec"], (0, 0))
            per_exec[j["exec"]] = (n + 1, t + tasks.get(jid, 0))
    for ex, x in execs.items():
        n, t = per_exec.get(ex, (0, 0))
        wall = ((x["end"] or x["start"]) - x["start"]) / 1000
        rows.append((x["start"], f"sql-{ex}", wall, n, t, x["site"]))
    rows.sort()

    print(f"{'start_s':>8} {'label':>9} {'wall_s':>7} {'jobs':>4} {'tasks':>5}  call site")
    shown = [0, 0, 0, 0]  # SQL executions, jobs, jobs outside SQL, tasks
    for start, label, wall, n, t, site in rows:
        line = f"{(start - app_start) / 1000:8.2f} {label:>9} {wall:7.3f} {n:4d} {t:5d}  {site}"
        if n >= a.min_jobs and (a.grep is None or a.grep in line):
            print(line)
            outside = label.startswith("job-")
            shown = [shown[0] + (not outside), shown[1] + n, shown[2] + outside, shown[3] + t]
    print(f"total: {shown[0]} SQL executions, {shown[1]} jobs ({shown[2]} outside SQL), "
          f"{shown[3]} tasks")


if __name__ == "__main__":
    sys.exit(main())
