#!/usr/bin/env python3
"""Print one row per job from a Spark event log.

Each row gives the job id, the SQL execution it ran in, its wall time, the
stages it ran (skipped stages, whose shuffle output already existed, are not
counted), its tasks, the shuffle records it read and wrote, the executor CPU
its tasks used, and the operator scopes of the RDDs in the stages it ran
(`Exchange`, `Window`, `InMemoryTableScan`, ...). A line above the first job
of each SQL execution gives the execution's description. Totals come last.

Usage:
    python3 tools/joblog.py EVENT_LOG [--group JOB_GROUP]

EVENT_LOG is a plain event log, a `.zstd`/`.zst` one (read through the
`zstd` binary), or a rolling event-log directory. With --group, only the
jobs of that job group are shown.

To write an event log for graft.Bench:
    SPARK_GRAFT_EXTRA_CONF="spark.eventLog.enabled=true;spark.eventLog.dir=/tmp/ev" \\
        sbt -batch "runMain graft.Bench q_swing"
"""
import argparse
import json
import os
import re
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def read_text(path):
    if path.endswith((".zstd", ".zst")):
        out = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True)
        return out.stdout.decode("utf-8")
    if path.endswith((".lz4", ".snappy", ".lzf")):
        sys.exit(f"joblog: {path}: only plain and zstd event logs can be read")
    with open(path, encoding="utf-8") as f:
        return f.read()


def events(path):
    if os.path.isdir(path):
        # rolling event log: events_<index>_<app>[.codec], in index order
        def index(name):
            m = re.match(r"events_(\d+)_", name)
            return int(m.group(1)) if m else -1
        parts = sorted((n for n in os.listdir(path) if n.startswith("events_")), key=index)
        for name in parts:
            yield from events(os.path.join(path, name))
        return
    for line in read_text(path).splitlines():
        if line.strip():
            yield json.loads(line)


def scope_name(rdd_info):
    scope = rdd_info.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name")
    except ValueError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("event_log")
    ap.add_argument("--group", help="show only the jobs of this job group")
    args = ap.parse_args()

    jobs = {}            # job id -> row
    stage_job = {}       # stage id -> job id of the first job that lists it
    stage_scopes = {}    # stage id -> scope names of its RDDs
    executions = {}      # execution id -> description
    for e in events(args.event_log):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "id": e["Job ID"],
                "exec": props.get("spark.sql.execution.id", "-"),
                "group": props.get("spark.jobGroup.id"),
                "start": e.get("Submission Time"),
                "end": None,
                "stages": set(),
                "tasks": 0,
                "read": 0,
                "written": 0,
                "cpu_ns": 0,
                "failed": False,
            }
            jobs[job["id"]] = job
            for info in e.get("Stage Infos", []):
                sid = info["Stage ID"]
                stage_job.setdefault(sid, job["id"])
                names = [n for n in map(scope_name, info.get("RDD Info", [])) if n]
                stage_scopes.setdefault(sid, names)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job:
                job["end"] = e.get("Completion Time")
                job["failed"] = (e.get("Job Result") or {}).get("Result") != "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID")))
            if not job:
                continue
            job["stages"].add(e["Stage ID"])
            job["tasks"] += 1
            m = e.get("Task Metrics") or {}
            job["cpu_ns"] += m.get("Executor CPU Time", 0)
            job["read"] += (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            job["written"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Records Written", 0)
        elif kind == SQL_START:
            executions[str(e.get("executionId"))] = (e.get("description") or "").strip()

    shown = [j for _, j in sorted(jobs.items()) if args.group is None or j["group"] == args.group]
    print(f"{'job':>5} {'exec':>5} {'ms':>7} {'stages':>6} {'tasks':>6} {'shuf_rd':>9} {'shuf_wr':>9} "
          f"{'cpu_ms':>8}  scopes")
    last_exec = None
    for j in shown:
        if j["exec"] != last_exec:
            if j["exec"] == "-":
                print("--- outside any SQL execution")
            else:
                print(f"--- execution {j['exec']}: {executions.get(j['exec'], '')[:100]}")
            last_exec = j["exec"]
        ms = j["end"] - j["start"] if j["start"] is not None and j["end"] is not None else -1
        scopes = []
        for sid in sorted(j["stages"]):
            for name in stage_scopes.get(sid, []):
                if name not in scopes:
                    scopes.append(name)
        flag = " FAILED" if j["failed"] else ""
        print(f"{j['id']:>5} {j['exec']:>5} {ms:>7} {len(j['stages']):>6} {j['tasks']:>6} "
              f"{j['read']:>9} {j['written']:>9} {j['cpu_ns'] / 1e6:>8.1f}  {'/'.join(scopes)}{flag}")
    print(f"total: {len(shown)} jobs in {len({j['exec'] for j in shown} - {'-'})} SQL executions, "
          f"{sum(len(j['stages']) for j in shown)} stages, {sum(j['tasks'] for j in shown)} tasks, "
          f"{sum(j['cpu_ns'] for j in shown) / 1e6:.1f} ms executor CPU")


if __name__ == "__main__":
    main()
