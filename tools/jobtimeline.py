#!/usr/bin/env python3
"""Print a Spark application's job timeline from its event log.

Usage:
  python3 tools/jobtimeline.py LOG [--jobs FIRST:LAST]

LOG is an uncompressed Spark event log (one JSON event per line): a file,
a rolling log's `eventlog_v2_*` directory, or a directory of logs, in
which case the newest is read. For each job it
prints the submit time (ms from the first printed job), the gap since the
previous job ended (driver time with no job running), the duration, the
stages and tasks that ran, the SQL execution id and the call site (for a
streaming micro-batch Spark records the query's `start` as the call site,
and for the stage jobs of an adaptive plan `CompletableFuture.java:1768`).
Then it prints, for each SQL execution that owns a printed job, its wall
time, its first two engine frames (the `details` stack of the execution's
start, past Spark, Scala, JDK and benchmark-harness frames, innermost
first: which `stageLocal`, loop action or write opened it; in parentheses
Spark's own short call site when no engine frame is left) and its plan
shape, and the jobs of each Structured Streaming micro-batch among them.
The same table lists, with 0 jobs, each SQL execution that starts in the
printed span and owns no job at all: a collect served from a local
relation (a driver-read keyed lookup) runs as an execution without a job,
and would otherwise drop out of the timeline.

--jobs FIRST:LAST limits the listing to job ids FIRST..LAST (either side
may be left out: `40:` or `:12`).

To get a log from a run of the repository benchmark, pass Spark settings
through the JVM's environment (a diagnostic run; never time with it):
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev \\
    -Dspark.eventLog.compress=false" python3 perfbench/run.py --workload upkeep
"""
import argparse
import json
import os
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
# frames of these packages are not the engine's own call site
FOREIGN = ("org.apache.spark.", "scala.", "java.", "jdk.", "sun.", "graft.perfbench.")


def log_files(path):
    """The event files of the log at `path`: a single-file log, a rolling
    log's directory (its `events_N_*` parts, in order), or a directory of
    logs, whose newest entry is read."""
    if not os.path.isdir(path):
        return [path]
    names = os.listdir(path)
    parts = [f for f in names if f.startswith("events_")]
    if parts:
        return [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    logs = [os.path.join(path, f) for f in names if not f.startswith(".")]
    if not logs:
        sys.exit(f"{path}: no event log")
    return log_files(max(logs, key=os.path.getmtime))


def plan_shape(info):
    """`root <- leaf, leaf` node names of a SQL execution's physical plan."""
    if not info:
        return ""
    leaves, stack = set(), [info]
    while stack:
        n = stack.pop()
        kids = n.get("children") or []
        if not kids:
            leaves.add(n.get("nodeName", "?").strip())
        stack.extend(kids)
    return f"{info.get('nodeName', '?')} <- {', '.join(sorted(leaves))}"


def engine_frames(details, n=2):
    """The first `n` engine frames of a SQL execution's call-site stack,
    each as `Class.method:line` (`graft.ops.TextDedup$.starTest(TextDedup.scala:516)`
    reads `TextDedup.starTest:516`), innermost first, joined by ` < `."""
    out = []
    for frame in (details or "").splitlines():
        frame = frame.strip()
        if not frame or frame.startswith(FOREIGN):
            continue
        name, _, loc = frame.partition("(")
        cls, _, meth = name.rpartition(".")
        line = loc.rstrip(")").rpartition(":")[2]
        out.append(f"{cls.rpartition('.')[2].rstrip('$')}.{meth}:{line}")
        if len(out) == n:
            break
    return " < ".join(out)


def events(files):
    for path in files:
        with open(path) as f:
            yield from f


def load(files):
    """Jobs by id and SQL executions by id, from one event log."""
    jobs, sqls, stage_job, ran = {}, {}, {}, set()
    for line in events(files):
        try:
            e = json.loads(line)
        except ValueError:
            continue  # a truncated last line of a live log
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos") or []
            # the result stage has the highest id; its name is the call site
            last = max(infos, key=lambda s: s["Stage ID"], default={})
            sql = props.get("spark.sql.execution.id")
            batch = props.get("streaming.sql.batchId")
            jobs[e["Job ID"]] = {
                "batch": None if batch is None else
                (props.get("sql.streaming.queryId", "?"), int(batch)),
                "submit": e["Submission Time"], "end": None,
                "stages": set(e.get("Stage IDs") or []), "ran": 0, "tasks": 0,
                "sql": int(sql) if sql not in (None, "") else None,
                "site": last.get("Stage Name", "?")}
            for s in e.get("Stage IDs") or []:
                stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            ran.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            j = stage_job.get(e["Stage ID"])
            if j is not None:
                jobs[j]["tasks"] += 1
        elif kind == SQL_START:
            sqls[e["executionId"]] = {"start": e["time"], "end": None,
                                      "site": engine_frames(e.get("details"))
                                      or f"({e.get('description', '?')})",
                                      "plan": plan_shape(e.get("sparkPlanInfo"))}
        elif kind == SQL_END:
            if e["executionId"] in sqls:
                sqls[e["executionId"]]["end"] = e["time"]
    for j in jobs.values():
        j["ran"] = len(j["stages"] & ran)
    return jobs, sqls


def job_range(spec):
    lo, _, hi = spec.partition(":")
    return (int(lo) if lo else None, int(hi) if hi else None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--jobs", default=":", help="FIRST:LAST job ids (inclusive)")
    a = ap.parse_args()
    jobs, sqls = load(log_files(a.log))
    lo, hi = job_range(a.jobs)
    ids = sorted(i for i in jobs if (lo is None or i >= lo) and (hi is None or i <= hi))
    if not ids:
        sys.exit("no job in range")
    origin = jobs[ids[0]]["submit"]
    # the end of the latest job before the first printed one, for its gap
    prev_end = max((j["end"] for i, j in jobs.items() if i < ids[0] and j["end"]), default=None)
    print(f"{'job':>5} {'submit_ms':>9} {'gap_ms':>7} {'dur_ms':>7} {'stages':>6} "
          f"{'tasks':>5} {'sql':>5}  call site")
    for i in ids:
        j = jobs[i]
        gap = "" if prev_end is None else str(max(0, j["submit"] - prev_end))
        dur = "" if j["end"] is None else str(j["end"] - j["submit"])
        sql = "" if j["sql"] is None else str(j["sql"])
        print(f"{i:>5} {j['submit'] - origin:>9} {gap:>7} {dur:>7} {j['ran']:>6} "
              f"{j['tasks']:>5} {sql:>5}  {j['site']}")
        if j["end"] is not None:
            prev_end = max(prev_end or 0, j["end"])
    owned = {jobs[i]["sql"] for i in ids if jobs[i]["sql"] is not None}
    # job-less executions from the first printed job up to the next unprinted one
    with_jobs = {j["sql"] for j in jobs.values()}
    until = min((j["submit"] for i, j in jobs.items() if i > ids[-1]), default=None)
    jobless = {s for s, x in sqls.items() if s not in with_jobs and x["start"] >= origin
               and (until is None or x["start"] < until)}
    listed = sorted(owned | jobless)
    if listed:
        width = max([len("engine call site")] + [len(sqls[s]["site"]) for s in listed if s in sqls])
        print(f"\n{'sql':>5} {'start_ms':>9} {'wall_ms':>7} {'jobs':>4}  "
              f"{'engine call site':<{width}}  plan (root <- leaves)")
        for s in listed:
            x = sqls.get(s)
            n = sum(1 for i in ids if jobs[i]["sql"] == s)
            if x is None:
                print(f"{s:>5} {'':>9} {'':>7} {n:>4}  (no execution events)")
                continue
            wall = "" if x["end"] is None else str(x["end"] - x["start"])
            print(f"{s:>5} {x['start'] - origin:>9} {wall:>7} {n:>4}  "
                  f"{x['site']:<{width}}  {x['plan'][:70]}")
    batches = {}
    for i in ids:
        if jobs[i]["batch"] is not None:
            batches.setdefault(jobs[i]["batch"], []).append(i)
    if batches:
        print(f"\n{'query':>8} {'batch':>5} {'jobs':>4} {'tasks':>5}  job ids")
        for (q, b), js in sorted(batches.items(), key=lambda kv: kv[1][0]):
            print(f"{q[:8]:>8} {b:>5} {len(js):>4} {sum(jobs[i]['tasks'] for i in js):>5}"
                  f"  {js[0]}..{js[-1]}")
    span = max((jobs[i]["end"] or jobs[i]["submit"]) for i in ids) - origin
    busy = sum((jobs[i]["end"] - jobs[i]["submit"]) for i in ids if jobs[i]["end"])
    print(f"\n{len(ids)} jobs, {sum(jobs[i]['tasks'] for i in ids)} tasks over {span} ms "
          f"(job time {busy} ms, overlapping jobs counted each)")
    if jobless:
        wall = sum(sqls[s]["end"] - sqls[s]["start"] for s in jobless if sqls[s]["end"])
        print(f"{len(jobless)} SQL executions without a job (wall {wall} ms)")


if __name__ == "__main__":
    main()
