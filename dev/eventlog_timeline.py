#!/usr/bin/env python3
"""Timeline of a Spark event log: SQL executions, their jobs and stages.

Usage: python3 dev/eventlog_timeline.py <event-log file or directory>

Reads every event log under the path (plain JSON lines, or `.zstd` through
the `zstd` CLI when it is on PATH) and prints, per application, each SQL
execution with its description, then its jobs, then their stages:

  start     seconds since the application started
  dur       wall seconds
  tasks     task count (stages)
  run/deser/cpu
            summed executor run, deserialize and CPU time over the
            stage's tasks, in ms
  scopes    the operator scopes of the stage's RDDs (WholeStageCodegen (n),
            Exchange, MapGroups, ...)

A streaming micro-batch's executions show as "streaming batch <id>"; jobs
that belong to no SQL execution are listed under "(no execution)".
A closing line per application counts executions, jobs, stages and tasks.
To record a log, run Spark with `spark.eventLog.enabled=true` and
`spark.eventLog.dir=<dir>` (add `spark.eventLog.compress=false` for plain
JSON).
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
from collections import defaultdict


def log_files(path):
    """One entry per application: a list of files read in order (a rolling
    log, `eventlog_v2_<app>/events_<n>_<app>`, is one application)."""
    if os.path.isfile(path):
        return [[path]]
    apps = []
    for d, dirs, names in os.walk(path):
        dirs.sort()
        if os.path.basename(d).startswith("eventlog_v2_"):
            parts = [n for n in names if n.startswith("events_")]
            parts.sort(key=lambda n: int(n.split("_")[1]) if n.split("_")[1].isdigit() else 0)
            apps.append([os.path.join(d, n) for n in parts])
            dirs[:] = []
        else:
            apps += [[os.path.join(d, n)] for n in sorted(names)
                     if not n.startswith(".") and not n.endswith(".crc")]
    return apps


def lines(path):
    if path.endswith(".zstd") or path.endswith(".zst"):
        if shutil.which("zstd") is None:
            sys.exit(f"{path}: zstd-compressed, and no zstd CLI on PATH")
        data = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True).stdout
        yield from data.decode("utf-8", "replace").splitlines()
    elif path.endswith((".lz4", ".snappy", ".lzf")):
        sys.exit(f"{path}: codec not supported; record with spark.eventLog.compress=false "
                 "or spark.eventLog.compression.codec=zstd")
    else:
        with open(path, encoding="utf-8", errors="replace") as fh:
            yield from fh


class App:
    def __init__(self, name):
        self.name = name
        self.start = None
        self.execs = {}                 # id -> dict(desc, start, end)
        self.jobs = {}                  # id -> dict(exec, start, end, stages)
        self.stages = {}                # (id, attempt) -> dict
        self.tasks = defaultdict(lambda: [0, 0, 0, 0])  # (id, attempt) -> n, run, deser, cpu_ns


def scopes(stage_info):
    names = []
    for rdd in stage_info.get("RDD Info", []):
        s = rdd.get("Scope")
        if not s:
            continue
        try:
            n = json.loads(s).get("name")
        except ValueError:
            continue
        if n and n not in names:
            names.append(n)
    return names


def parse(paths):
    app = App(os.path.basename(os.path.dirname(paths[0]) if len(paths) > 1 else paths[0]))
    for line in (l for p in paths for l in lines(p)):
        line = line.strip()
        if not line:
            continue
        try:
            e = json.loads(line)
        except ValueError:
            continue
        ev = e.get("Event", "")
        if ev == "SparkListenerApplicationStart":
            app.start = e.get("Timestamp")
            app.name = e.get("App Name", app.name)
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            app.execs[e["executionId"]] = {"desc": e.get("description", ""),
                                           "start": e.get("time"), "end": None}
        elif ev.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in app.execs:
                app.execs[e["executionId"]]["end"] = e.get("time")
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            app.jobs[e["Job ID"]] = {"exec": int(xid) if xid not in (None, "") else None,
                                     "start": e.get("Submission Time"), "end": None,
                                     "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])]}
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in app.jobs:
                app.jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            app.stages[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = {
                "name": si.get("Stage Name", ""), "tasks": si.get("Number of Tasks", 0),
                "start": si.get("Submission Time"), "end": si.get("Completion Time"),
                "scopes": scopes(si)}
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = app.tasks[(e["Stage ID"], e.get("Stage Attempt ID", 0))]
            t[0] += 1
            t[1] += m.get("Executor Run Time", 0)
            t[2] += m.get("Executor Deserialize Time", 0)
            t[3] += m.get("Executor CPU Time", 0)
    if app.start is None:
        starts = [x["start"] for x in list(app.execs.values()) + list(app.jobs.values())
                  if x.get("start")]
        app.start = min(starts) if starts else 0
    return app


def secs(app, t):
    return "     -" if t is None else f"{(t - app.start) / 1000.0:7.2f}"


def dur(a, b):
    return "     -" if a is None or b is None else f"{(b - a) / 1000.0:6.2f}"


def report(app):
    print(f"== {app.name}")
    by_exec = defaultdict(list)
    for jid in sorted(app.jobs):
        by_exec[app.jobs[jid]["exec"]].append(jid)
    order = sorted(app.execs) + ([None] if by_exec.get(None) else [])
    n_stages = n_tasks = 0
    for xid in order:
        if xid is None:
            print("(no execution)")
        else:
            x = app.execs[xid]
            desc = " ".join(str(x["desc"]).split())
            batch = re.search(r"\bbatch = (\d+)", desc)
            desc = f"streaming batch {batch.group(1)}" if batch else desc[:90]
            print(f"exec {xid:<4} start {secs(app, x['start'])} dur {dur(x['start'], x['end'])}  {desc}")
        for jid in by_exec.get(xid, []):
            j = app.jobs[jid]
            print(f"  job {jid:<4} start {secs(app, j['start'])} dur {dur(j['start'], j['end'])}"
                  f"  stages {len(j['stages'])}")
            for sid in sorted(j["stages"]):
                done = [k for k in app.stages if k[0] == sid]
                for key in sorted(done):
                    s = app.stages[key]
                    n, run, deser, cpu = app.tasks.get(key, (0, 0, 0, 0))
                    n_stages += 1
                    n_tasks += n
                    print(f"    stage {sid:<4} start {secs(app, s['start'])} dur {dur(s['start'], s['end'])}"
                          f"  tasks {s['tasks']:<4} run {run:<6} deser {deser:<5} cpu {cpu // 1000000:<6}"
                          f"  {' | '.join(s['scopes'])}")
    print(f"== {len(app.execs)} executions, {len(app.jobs)} jobs, "
          f"{n_stages} completed stages, {n_tasks} tasks")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("path")
    a = ap.parse_args()
    apps = log_files(a.path)
    if not apps:
        sys.exit(f"no event logs under {a.path}")
    for files in apps:
        report(parse(files))


if __name__ == "__main__":
    main()
