#!/usr/bin/env python3
"""Per-job timeline of a Spark event log.

Usage: python3 tools/spark_job_timeline.py <event-log>

Reads an uncompressed Spark event log (JSON lines, as written with
spark.eventLog.enabled=true and spark.eventLog.compress=false): a single
file, or a rolling log's directory (eventlog_v2_<app-id>, whose
events_<n>_<app-id> files are read in order). It prints:

  1. one line per job: start and end (ms since the application started),
     duration, tasks run, summed executor run time, SQL execution id and the
     job's call site (the name of its result stage);
  2. per SQL call site: executions, the median time from the execution's
     start to its first job's submission (Catalyst planning and any other
     driver work before the first job), the median time inside its jobs
     (summed job durations) and the median execution time;
  3. per call site of jobs outside any SQL execution (RDD jobs): jobs and
     the median job duration.

It is a diagnostic of where a run spends its time. Event logging adds its
own cost, so never use a logged run for A/B timing.
"""
import json
import os
import re
import statistics
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def lines(path):
    if not os.path.isdir(path):
        files = [path]
    else:
        parts = [f for f in os.listdir(path) if re.match(r"events_\d+_", f)]
        files = [os.path.join(path, f)
                 for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    for f in files:
        with open(f) as fh:
            yield from fh


def load(path):
    app_start = None
    jobs = {}
    stage_job = {}
    sql = {}
    for line in lines(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif kind == "SparkListenerJobStart":
            stages = e.get("Stage Infos", [])
            result = max(stages, key=lambda s: s["Stage ID"]) if stages else {}
            sql_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": None, "tasks": 0, "run_ms": 0,
                "site": result.get("Stage Name", "?"),
                "sql": int(sql_id) if sql_id not in (None, "") else None}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is not None:
                job["tasks"] += 1
                job["run_ms"] += (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
        elif kind == SQL_START:
            sql[e["executionId"]] = {"start": e["time"], "end": None,
                                     "site": e.get("description", "?")}
        elif kind == SQL_END:
            if e["executionId"] in sql:
                sql[e["executionId"]]["end"] = e["time"]
    return app_start, jobs, sql


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    app_start, jobs, sql = load(sys.argv[1])
    t0 = app_start if app_start is not None else min(
        [j["start"] for j in jobs.values()] or [0])

    print(f"{'job':>5} {'start_ms':>9} {'end_ms':>9} {'dur_ms':>7} {'tasks':>5} "
          f"{'run_ms':>7} {'sql':>5}  call site")
    for jid in sorted(jobs):
        j = jobs[jid]
        end = j["end"]
        dur = end - j["start"] if end is not None else float("nan")
        print(f"{jid:>5} {j['start'] - t0:>9} {(end - t0) if end is not None else '-':>9} "
              f"{dur:>7} {j['tasks']:>5} {j['run_ms']:>7} "
              f"{j['sql'] if j['sql'] is not None else '-':>5}  {j['site']}")

    by_exec = defaultdict(list)
    for j in jobs.values():
        if j["sql"] is not None and j["end"] is not None:
            by_exec[j["sql"]].append(j)
    per_site = defaultdict(lambda: {"plan": [], "in_jobs": [], "exec": []})
    for eid, ex in sql.items():
        ejobs = by_exec.get(eid)
        if not ejobs or ex["end"] is None:
            continue
        s = per_site[ex["site"]]
        s["plan"].append(min(j["start"] for j in ejobs) - ex["start"])
        s["in_jobs"].append(sum(j["end"] - j["start"] for j in ejobs))
        s["exec"].append(ex["end"] - ex["start"])
    print()
    print(f"{'execs':>5} {'plan_ms':>8} {'in_jobs_ms':>10} {'exec_ms':>8}  SQL call site (medians)")
    for site, s in sorted(per_site.items(), key=lambda kv: -len(kv[1]["exec"])):
        print(f"{len(s['exec']):>5} {median(s['plan']):>8.1f} {median(s['in_jobs']):>10.1f} "
              f"{median(s['exec']):>8.1f}  {site}")

    rdd = defaultdict(list)
    for j in jobs.values():
        if j["sql"] is None and j["end"] is not None:
            rdd[j["site"]].append(j["end"] - j["start"])
    print()
    print(f"{'jobs':>5} {'dur_ms':>8}  call site of jobs outside SQL executions (medians)")
    for site, durs in sorted(rdd.items(), key=lambda kv: -len(kv[1])):
        print(f"{len(durs):>5} {median(durs):>8.1f}  {site}")


if __name__ == "__main__":
    main()
