#!/usr/bin/env python3
"""Print a Spark application's SQL executions, jobs and stages from its
event log, with the graft (or perfbench) call site of each execution.

    python3 tools/spark_timeline.py EVENT_LOG [T0_MS T1_MS]

EVENT_LOG is an event-log file, a rolling event-log directory
(`eventlog_v2_*`), or a `spark.eventLog.dir`, of which the most recently
written application is read. zstd-compressed logs (`*.zstd`, `*.zst`) are
read through the `zstd` command-line tool when it is installed.

Times are milliseconds since the application started. With T0_MS and T1_MS
only SQL executions and jobs that overlap the window [T0_MS, T1_MS] are
printed.

For each SQL execution: its id, start and wall time, call site and
description; under it each job (id, start, wall time, its stages) and each
stage with its task count, the sum and maximum of its tasks' executor run
time and their CPU time. Jobs outside any SQL execution (RDD actions) are
listed with their stage's call site. A summary line gives the totals.
"""
import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SITE_PREFIXES = ("graft.", "perfbench.")


def pick_log(path):
    """The event-log files of one application, in the order to read them."""
    if os.path.isfile(path):
        return [path]
    name = os.path.basename(os.path.normpath(path))
    if name.startswith("eventlog_v2_"):
        return sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(os.path.basename(f).split("_")[1]))
    apps = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")]
    if not apps:
        sys.exit(f"no event log in {path}")
    latest = max(apps, key=os.path.getmtime)
    print(f"# application log: {latest}")
    return pick_log(latest)


def read_lines(path):
    base = path[:-len(".inprogress")] if path.endswith(".inprogress") else path
    ext = os.path.splitext(base)[1]
    if ext in (".zstd", ".zst"):
        if shutil.which("zstd") is None:
            sys.exit(f"{path} is zstd-compressed and the zstd tool is not installed")
        # an in-progress log ends mid-frame: keep what decompressed
        out = subprocess.run(["zstd", "-dc", path], capture_output=True).stdout
        text = out.decode("utf-8", "replace")
    elif ext in (".lz4", ".lzf", ".snappy"):
        sys.exit(f"{path}: only uncompressed and zstd event logs are supported")
    else:
        with open(path, encoding="utf-8", errors="replace") as f:
            text = f.read()
    for line in text.splitlines():
        try:
            yield json.loads(line)
        except json.JSONDecodeError:
            pass  # the torn last line of a log still being written


def site(details):
    """The first graft/perfbench frame of a call-site string."""
    for frame in (details or "").splitlines():
        frame = frame.strip()
        if frame.startswith(SITE_PREFIXES):
            return frame
    first = (details or "").strip().splitlines()
    return first[0].strip() if first else "?"


def load(files):
    app_start = None
    execs, jobs, stages = {}, {}, {}
    tasks = defaultdict(lambda: [0, 0, 0, 0.0])  # count, run sum, run max, cpu s
    for path in files:
        for e in read_lines(path):
            ev = e.get("Event")
            if ev == "SparkListenerApplicationStart":
                app_start = e["Timestamp"]
            elif ev == SQL_START:
                execs[e["executionId"]] = {
                    "start": e["time"], "end": None, "site": site(e.get("details")),
                    "desc": (e.get("description") or "").splitlines()[0:1],
                    "root": e.get("rootExecutionId")}
            elif ev == SQL_END:
                if e["executionId"] in execs:
                    execs[e["executionId"]]["end"] = e["time"]
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                infos = e.get("Stage Infos") or []
                last = max(infos, key=lambda s: s["Stage ID"]) if infos else {}
                jobs[e["Job ID"]] = {
                    "start": e.get("Submission Time"), "end": None,
                    "exec": int(exec_id) if exec_id is not None else None,
                    "stages": sorted(s["Stage ID"] for s in infos),
                    "site": site(last.get("Details"))}
                for s in infos:
                    stages.setdefault(s["Stage ID"], {
                        "name": s.get("Stage Name", ""), "tasks": s.get("Number of Tasks", 0),
                        "start": None, "end": None, "ran": False})
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e.get("Completion Time")
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {
                    "name": info.get("Stage Name", ""), "tasks": 0,
                    "start": None, "end": None, "ran": False})
                st.update(tasks=info.get("Number of Tasks", st["tasks"]),
                          start=info.get("Submission Time"), end=info.get("Completion Time"),
                          ran=info.get("Submission Time") is not None)
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0)
                t = tasks[e["Stage ID"]]
                t[0] += 1
                t[1] += run
                t[2] = max(t[2], run)
                t[3] += m.get("Executor CPU Time", 0) / 1e9
    if app_start is None:
        starts = [x["start"] for x in list(execs.values()) + list(jobs.values()) if x["start"]]
        app_start = min(starts) if starts else 0
    return app_start, execs, jobs, stages, tasks


def main(argv):
    if len(argv) not in (2, 4):
        sys.exit(__doc__)
    app_start, execs, jobs, stages, tasks = load(pick_log(argv[1]))

    def rel(t):
        return None if t is None else t - app_start

    window = None
    if len(argv) == 4:
        window = [float(a) for a in argv[2:4]]

    def inside(start, end):
        if window is None:
            return True
        s, e = rel(start), rel(end if end is not None else start)
        return s is not None and s <= window[1] and e >= window[0]

    def ms(t):
        return "?" if t is None else f"{t:.0f}"

    def wall(x):
        return "?" if x["start"] is None or x["end"] is None else f"{x['end'] - x['start']:.0f}"

    totals = {"execs": 0, "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_s": 0.0}

    def print_job(jid, indent):
        j = jobs[jid]
        totals["jobs"] += 1
        print(f"{indent}job {jid}  start {ms(rel(j['start']))}  wall {wall(j)} ms"
              f"  stages {j['stages']}")
        for sid in j["stages"]:
            st = stages.get(sid)
            if st is None or not st["ran"]:
                continue  # skipped: its shuffle output was reused
            n, run, mx, cpu = tasks.get(sid, (0, 0, 0, 0.0))
            totals["stages"] += 1
            totals["tasks"] += n
            totals["run_ms"] += run
            totals["cpu_s"] += cpu
            print(f"{indent}  stage {sid}  tasks {n}/{st['tasks']}  wall {wall(st)} ms"
                  f"  task run sum {run} ms max {mx} ms  cpu {cpu:.2f} s  {st['name']}")

    by_exec = defaultdict(list)
    for jid in sorted(jobs):
        by_exec[jobs[jid]["exec"]].append(jid)

    for eid in sorted(execs):
        x = execs[eid]
        if not inside(x["start"], x["end"]):
            continue
        totals["execs"] += 1
        root = "" if x["root"] in (None, eid) else f"  (root {x['root']})"
        print(f"sql {eid}  start {ms(rel(x['start']))}  wall {wall(x)} ms  {x['site']}{root}")
        if x["desc"] and x["desc"][0] and x["desc"][0] not in x["site"]:
            print(f"  desc: {x['desc'][0][:120]}")
        for jid in by_exec.get(eid, []):
            print_job(jid, "  ")

    loose = [j for j in by_exec.get(None, []) if inside(jobs[j]["start"], jobs[j]["end"])]
    if loose:
        print("jobs outside SQL executions")
        for jid in loose:
            print(f"  {jobs[jid]['site']}")
            print_job(jid, "    ")

    print(f"# {totals['execs']} SQL executions, {totals['jobs']} jobs, "
          f"{totals['stages']} stages run, {totals['tasks']} tasks, "
          f"task run {totals['run_ms'] / 1000:.2f} s, task cpu {totals['cpu_s']:.2f} s")


if __name__ == "__main__":
    main(sys.argv)
