#!/usr/bin/env python3
"""Spark jobs per operation of a kept traced benchmark run.

    python3 perfbench/run.py --workload index_maintain --seed 3 \
        --seconds 20 --trace 1 --keep
    python3 tools/bench_jobs.py .bench_build/runs/<run>/result.json

For each operation span of the run (set-ups, upsert passes, probes,
compaction windows, landed batches) it prints the wall time and the job
count, then one row per `spark.job.description` label: the jobs, their
summed wall, and how many of them ran a single task and wrote nothing
(no shuffle, no output) — the shape of a footer-inference or metadata job.
A job belongs to the span whose interval holds its start, as in
`perfbench/trace.py`.
"""

import argparse
import json
from collections import defaultdict


def idle(job):
    """One task, no shuffle and no output bytes or records."""
    return (job["tasks"] == 1 and not job["shuffle_bytes"]
            and not job["output_bytes"] and not job["output_records"])


def op_spans(trace):
    return [s for s in trace["spans"] if "op" in s]


def report(result):
    trace = result.get("trace")
    if not trace:
        raise SystemExit("no trace in this result: run with --trace 1 --keep")
    jobs = sorted(trace["jobs"], key=lambda j: j["start"])
    lines = []
    for span in op_spans(trace):
        inside = [j for j in jobs if span["start"] <= j["start"] <= span["end"]]
        wall = (span["end"] - span["start"]) / 1000.0
        lines.append(f"op {span['op']} {span['kind']}: {wall:.2f} s, "
                     f"{len(inside)} jobs, {sum(map(idle, inside))} idle")
        by_label = defaultdict(list)
        for j in inside:
            by_label[j["desc"] or "(unlabelled)"].append(j)
        for label, js in sorted(by_label.items()):
            job_wall = sum((j["end"] or j["start"]) - j["start"] for j in js)
            lines.append(f"    {len(js):4d} jobs {job_wall:8.0f} ms "
                         f"{sum(map(idle, js)):4d} idle  {label}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("result", help="result.json of a kept traced run")
    a = ap.parse_args()
    with open(a.result) as f:
        print(report(json.load(f)))


if __name__ == "__main__":
    main()
