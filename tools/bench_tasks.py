#!/usr/bin/env python3
"""Spark jobs and task deserialization per operation of a benchmark run,
from a Spark event log.

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
        -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \
        python3 perfbench/run.py --workload index_maintain --seed 3 \
        --seconds 20 --trace 0 --keep
    python3 tools/bench_tasks.py .bench_build/runs/<run>/result.json \
        /tmp/ev/eventlog_v2_local-*/events_1_*

For each operation span of the kept run (set-ups, upsert passes, probes,
compaction windows, landed batches) it prints the wall time, the jobs
started inside it, and per task class (write, read) the tasks, their
summed `Executor Deserialize Time` and their median `Executor Deserialize
CPU Time`; then the same outside every span. A job belongs to the span
whose interval holds its submission, as in `tools/bench_jobs.py`, and a
task to its stage's job. A write task is a task of a stage that wrote
output (bytes or records): every task of a write job's stage runs the same
writer and deserializes the same job description, even one whose
partition was empty.

A write task deserializes the job's Hadoop conf twice (the write job
description's and the stats tracker's): with per-key property sources in
that conf its median is 14-28 ms of CPU on a 4-vCPU host; without them,
single-digit ms.
"""

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict


def read_log(path):
    """(jobs, tasks) of an uncompressed event log: jobs as
    {id, submitted}, tasks as {job, write, deser_ms, deser_cpu_ms}."""
    files = sorted(glob.glob(os.path.join(path, "events_*"))) if os.path.isdir(path) else [path]
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    jobs, stage_job, writing, ends = [], {}, set(), []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs.append({"id": e["Job ID"], "submitted": e["Submission Time"]})
            for s in e["Stage IDs"]:
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            out = e["Task Metrics"].get("Output Metrics", {})
            if out.get("Bytes Written") or out.get("Records Written"):
                writing.add(e["Stage ID"])
            ends.append(e)
    tasks = [{"job": stage_job.get(e["Stage ID"]),
              "write": e["Stage ID"] in writing,
              "deser_ms": e["Task Metrics"]["Executor Deserialize Time"],
              "deser_cpu_ms": e["Task Metrics"]["Executor Deserialize CPU Time"] / 1e6}
             for e in ends]
    return jobs, tasks


def task_cols(tasks):
    cols = []
    for name, write in (("write", True), ("read", False)):
        ts = [t for t in tasks if t["write"] == write]
        med = statistics.median(t["deser_cpu_ms"] for t in ts) if ts else 0.0
        cols.append(f"{len(ts)} {name} tasks {sum(t['deser_ms'] for t in ts):.0f} ms "
                    f"deser (CPU median {med:.1f} ms)")
    return ", ".join(cols)


def report(result, jobs, tasks):
    by_job = defaultdict(list)
    for t in tasks:
        by_job[t["job"]].append(t)
    lines, seen = [], set()
    for i, op in enumerate(result["ops"]):
        inside = [j["id"] for j in jobs if op["start"] <= j["submitted"] <= op["end"]]
        seen.update(inside)
        wall = (op["end"] - op["start"]) / 1000.0
        lines.append(f"op {i} {op['kind']}: {wall:.2f} s, {len(inside)} jobs, "
                     + task_cols([t for j in inside for t in by_job[j]]))
    rest = [j["id"] for j in jobs if j["id"] not in seen]
    lines.append(f"outside ops: {len(rest)} jobs, "
                 + task_cols([t for j in rest for t in by_job[j]]))
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("result", help="result.json of the kept run")
    ap.add_argument("eventlog", help="the run's uncompressed event log file "
                    "(or its eventlog_v2_* directory)")
    a = ap.parse_args()
    with open(a.result) as f:
        result = json.load(f)
    print(report(result, *read_log(a.eventlog)))


if __name__ == "__main__":
    main()
