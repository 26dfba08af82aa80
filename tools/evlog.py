#!/usr/bin/env python3
"""Summarise Spark event logs: per-SQL-execution cost and driver gaps.

    usage: tools/evlog.py <eventlog dir or file> [--gap-ms 200] [--shuffle]
                          [--memory]

For every application log (an uncompressed JSON-lines file written with
spark.eventLog.enabled=true and spark.eventLog.compress=false; rolling
logs are read as one application per eventlog_v2_* directory) it prints:

  * one line per SQL execution: wall time, jobs, stages run, task
    seconds (summed task durations) and its description;
  * every interval of at least --gap-ms with NO running job, with the SQL
    execution open at the time, if any. At small sizes this driver time
    (planning, cache bookkeeping, result handling) is where wall time goes.

With --shuffle it also prints, under each SQL execution, the shuffle bytes
written by each of its stages, and every exchange of its FINAL plan (the
last adaptive re-plan, else the plan it started with): the partitioning and
origin of a shuffle (e.g. `hashpartitioning(id, 4), REPARTITION_BY_NUM`)
with the bytes it wrote, a broadcast with the bytes it built, and a reused
exchange. Expression ids are dropped from the partitioning.

With --memory it prints, per stage, largest first, the execution memory its
tasks hold at their peaks when four run at once: the sum of its four largest
task `Peak Execution Memory` values (buffers of sorts, aggregations, windows
and shuffles), with the stage's SQL execution and name. This is how
perfbench's `stagePeak` sizes a stage on local[4]; its largest value over a
session is `peak_exec_mb`. MB here is 2^20 bytes, as there.

Times are read from the log's own timestamps (ms since the epoch).
"""
import argparse
import json
import os
import re
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_REPLAN = ("org.apache.spark.sql.execution.ui."
              "SparkListenerSQLAdaptiveExecutionUpdate")
DRIVER_ACCUMS = ("org.apache.spark.sql.execution.ui."
                 "SparkListenerDriverAccumUpdates")
PEAK_TASKS = 4  # tasks running at once: perfbench's local[4]
COMPRESSED = (".lz4", ".lzf", ".snappy", ".zstd")


def app_logs(path):
    """[(name, [files in order])] for every application under `path`."""
    if os.path.isfile(path):
        return [(os.path.basename(path), [path])]
    apps = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith("eventlog_v2_"):
            parts = sorted((f for f in os.listdir(full) if f.startswith("events_")),
                           key=lambda f: int(f.split("_")[1]))
            apps.append((name, [os.path.join(full, f) for f in parts]))
        elif os.path.isfile(full) and not name.startswith("."):
            apps.append((name, [full]))
    return apps


def read_events(files):
    for f in files:
        if f.endswith(COMPRESSED):
            sys.exit(f"{f}: compressed event log; rerun with "
                     "spark.eventLog.compress=false")
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        pass  # a torn last line of an in-progress log


def summarise(events):
    app_start = app_end = None
    sqls = {}       # id -> dict(start, end, desc, plan)
    jobs = {}       # job id -> dict(start, end, sql, stages)
    stage_job = {}  # stage id -> job id
    stages_run = set()
    task_ms = {}    # stage id -> summed task duration
    shuffle_w = {}  # stage id -> shuffle bytes written by its tasks
    accums = {}     # accumulator id -> summed task and driver updates
    task_peaks = {}  # stage id -> [peak execution memory of each task]
    stage_names = {}  # stage id -> stage name
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif kind == "SparkListenerApplicationEnd":
            app_end = e["Timestamp"]
        elif kind == SQL_START:
            sqls[e["executionId"]] = {"start": e["time"], "end": None,
                                      "desc": e.get("description", ""),
                                      "plan": e.get("sparkPlanInfo")}
        elif kind == SQL_REPLAN and e["executionId"] in sqls:
            sqls[e["executionId"]]["plan"] = e.get("sparkPlanInfo")
        elif kind == SQL_END and e["executionId"] in sqls:
            sqls[e["executionId"]]["end"] = e["time"]
        elif kind == DRIVER_ACCUMS:
            for aid, v in e.get("accumUpdates", []):
                accums[aid] = accums.get(aid, 0) + v
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None,
                                 "sql": int(sql) if sql is not None else None}
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages_run.add(e["Stage Info"]["Stage ID"])
            stage_names[e["Stage Info"]["Stage ID"]] = (
                e["Stage Info"].get("Stage Name", ""))
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            task_ms[e["Stage ID"]] = task_ms.get(e["Stage ID"], 0) + max(dur, 0)
            metrics = e.get("Task Metrics") or {}
            written = (metrics.get("Shuffle Write Metrics", {})
                       .get("Shuffle Bytes Written", 0))
            shuffle_w[e["Stage ID"]] = shuffle_w.get(e["Stage ID"], 0) + written
            task_peaks.setdefault(e["Stage ID"], []).append(
                metrics.get("Peak Execution Memory", 0))
            for a in info.get("Accumulables", []):
                # SQL metrics log their updates as decimal strings
                try:
                    v = int(a.get("Update"))
                except (TypeError, ValueError):
                    continue
                accums[a["ID"]] = accums.get(a["ID"], 0) + v
    return (app_start, app_end, sqls, jobs, stage_job, stages_run, task_ms,
            shuffle_w, accums, task_peaks, stage_names)


def stage_peaks(jobs, stage_job, task_peaks, stage_names):
    """[(bytes, sql id or None, stage id, stage name)] for every stage whose
    tasks held execution memory, largest first: a stage's bytes are the sum
    of its PEAK_TASKS largest task peaks."""
    rows = []
    for st, peaks in task_peaks.items():
        total = sum(sorted(peaks)[-PEAK_TASKS:])
        if total:
            job = jobs.get(stage_job.get(st), {})
            rows.append((total, job.get("sql"), st, stage_names.get(st, "")))
    return sorted(rows, key=lambda r: (-r[0], r[2]))


def exchanges(node):
    """Every exchange node of a sparkPlanInfo tree, in pre-order."""
    if node is None:
        return []
    name = node.get("nodeName", "")
    found = [node] if name.endswith("Exchange") else []
    for child in node.get("children", []):
        found += exchanges(child)
    return found


def exchange_line(node, accums):
    """`kind  bytes  partitioning, origin` for one exchange node."""
    def metric(*names):
        for m in node.get("metrics", []):
            if m["name"] in names:
                return accums.get(m["accumulatorId"], 0)
        return 0
    text = node.get("simpleString", "")
    text = re.sub(r",? \[plan_id=\d+\]?", "", text)
    text = re.sub(r"#\d+L?", "", text)
    name = node["nodeName"]
    if name == "ReusedExchange":
        return f"reused                 {text.split(', ', 1)[-1][:100]}"
    if name == "BroadcastExchange":
        return (f"broadcast {metric('data size') / 1e6:>9.4f} MB  "
                f"{text[len('BroadcastExchange '):][:100]}")
    return (f"shuffle   {metric('shuffle bytes written') / 1e6:>9.4f} MB  "
            f"{text[len('Exchange '):] if text.startswith('Exchange ') else text}")


def report(name, events, gap_ms, shuffle=False, memory=False):
    (app_start, app_end, sqls, jobs, stage_job, stages_run, task_ms,
     shuffle_w, accums, task_peaks, stage_names) = summarise(events)
    stamps = [t for j in jobs.values() for t in (j["start"], j["end"]) if t]
    stamps += [t for s in sqls.values() for t in (s["start"], s["end"]) if t]
    if not stamps:
        print(f"== {name}: no jobs or SQL executions")
        return
    t0 = app_start or min(stamps)
    t1 = app_end or max(stamps)
    print(f"== {name}: {(t1 - t0) / 1000:.1f} s, {len(sqls)} SQL executions, "
          f"{len(jobs)} jobs, {len(stages_run)} stages, "
          f"{sum(task_ms.values()) / 1000:.1f} task-s")

    print(f"{'sql':>5} {'start_s':>8} {'wall_ms':>8} {'jobs':>5} "
          f"{'stages':>6} {'task_s':>7}  description")
    for sid in sorted(sqls):
        s = sqls[sid]
        mine = [j for j, v in jobs.items() if v["sql"] == sid]
        stages = {st for st, j in stage_job.items() if j in mine} & stages_run
        wall = (s["end"] - s["start"]) if s["end"] else None
        desc = " ".join(s["desc"].split())[:70]
        print(f"{sid:>5} {(s['start'] - t0) / 1000:>8.2f} "
              f"{wall if wall is not None else '-':>8} {len(mine):>5} "
              f"{len(stages):>6} {sum(task_ms.get(st, 0) for st in stages) / 1000:>7.2f}"
              f"  {desc}")
        if shuffle:
            for st in sorted(stages):
                if shuffle_w.get(st, 0):
                    print(f"{'':>14}stage {st:>5} wrote "
                          f"{shuffle_w[st] / 1e6:>9.4f} MB shuffle")
            for node in exchanges(s["plan"]):
                print(f"{'':>14}{exchange_line(node, accums)}")

    if memory:
        peaks = stage_peaks(jobs, stage_job, task_peaks, stage_names)
        print(f"-- {len(peaks)} stages held execution memory; the sum of each "
              f"stage's {PEAK_TASKS} largest task peaks, largest first")
        print(f"{'peak_mb':>9} {'sql':>5} {'stage':>6}  stage name")
        for total, sql, st, stage_name in peaks:
            print(f"{total / 2**20:>9.1f} {sql if sql is not None else '-':>5} "
                  f"{st:>6}  {' '.join(stage_name.split())[:80]}")

    # driver gaps: the timeline minus the union of running-job intervals
    spans = sorted((j["start"], j["end"] or t1) for j in jobs.values())
    gaps, cursor = [], t0
    for a, b in spans:
        if a - cursor >= gap_ms:
            gaps.append((cursor, a))
        cursor = max(cursor, b)
    if t1 - cursor >= gap_ms:
        gaps.append((cursor, t1))

    def open_sql(a, b):
        for sid in sorted(sqls):
            s = sqls[sid]
            if s["start"] < b and (s["end"] or t1) > a:
                return f"sql {sid}"
        return "no sql"

    total = sum(b - a for a, b in gaps)
    print(f"-- {len(gaps)} intervals >= {gap_ms} ms with no running job, "
          f"{total / 1000:.2f} s in total")
    for a, b in gaps:
        print(f"   at {(a - t0) / 1000:>8.2f} s  {b - a:>7} ms  ({open_sql(a, b)})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("path")
    ap.add_argument("--gap-ms", type=int, default=200)
    ap.add_argument("--shuffle", action="store_true",
                    help="per execution: shuffle bytes per stage and the "
                         "exchanges of its final plan")
    ap.add_argument("--memory", action="store_true",
                    help="per stage, largest first: the sum of its "
                         f"{PEAK_TASKS} largest task execution-memory peaks")
    args = ap.parse_args()
    apps = app_logs(args.path)
    if not apps:
        sys.exit(f"{args.path}: no event logs")
    for name, files in apps:
        report(name, list(read_events(files)), args.gap_ms, args.shuffle,
               args.memory)


if __name__ == "__main__":
    main()
