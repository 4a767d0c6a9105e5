#!/usr/bin/env python3
"""Subprocess starts of a benchmark run, from a JFR recording.

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr \
        python3 perfbench/run.py --workload sink_microbatch --seed 9 \
        --seconds 20 --trace 0 --keep
    python3 tools/bench_spawns.py /tmp/run.jfr \
        .bench_build/runs/<run>/result.json

It prints the recording's `jdk.ProcessStart` events counted by program
(`chmod`, `readlink`, `rm`, ...). Given the result.json of a kept run, it
also prints, for each operation span (landed batches, upsert passes,
probes, compaction windows), the wall time and the starts inside it by
program, then the starts outside every span (JVM start, set-ups). A start
belongs to the span whose interval holds it. The recording's default
settings enable `jdk.ProcessStart`.
"""

import argparse
import json
import os
import shutil
import subprocess
from collections import Counter
from datetime import datetime


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        raise SystemExit("no `jfr` tool: set JAVA_HOME to a JDK")
    return found


def epoch_ms(stamp):
    """Epoch ms of a JFR timestamp such as `2026-01-02T03:04:05.123456789Z`
    (fromisoformat takes at most six fractional digits)."""
    head, _, frac = stamp.rstrip("Z").partition(".")
    t = datetime.fromisoformat(head + "+00:00").timestamp()
    return (t + float("0." + (frac or "0"))) * 1000.0


def starts(recording):
    """(epoch ms, program) of every process start in the recording."""
    out = subprocess.run(
        [jfr_tool(), "print", "--json", "--events", "jdk.ProcessStart", recording],
        check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    return [(epoch_ms(e["values"]["startTime"]),
             os.path.basename(e["values"]["command"].split()[0]))
            for e in events]


def fmt(counts):
    return ", ".join(f"{n} {prog}" for prog, n in counts.most_common()) or "none"


def report(spawns, result=None, noun="process starts"):
    """`spawns` ((epoch ms, label) pairs) counted by label, then per
    operation span of `result` and outside every span."""
    lines = [f"{len(spawns)} {noun}: {fmt(Counter(p for _, p in spawns))}"]
    if result is None:
        return "\n".join(lines)
    seen = set()
    for i, op in enumerate(result["ops"]):
        inside = [k for k, (t, _) in enumerate(spawns) if op["start"] <= t <= op["end"]]
        seen.update(inside)
        wall = (op["end"] - op["start"]) / 1000.0
        lines.append(f"op {i} {op['kind']}: {wall:.2f} s, "
                     f"{fmt(Counter(spawns[k][1] for k in inside))}")
    rest = Counter(p for k, (_, p) in enumerate(spawns) if k not in seen)
    lines.append(f"outside ops: {fmt(rest)}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording", help="a .jfr recording of the run's JVM")
    ap.add_argument("result", nargs="?", help="result.json of the kept run")
    a = ap.parse_args()
    result = None
    if a.result:
        with open(a.result) as f:
            result = json.load(f)
    print(report(starts(a.recording), result))


if __name__ == "__main__":
    main()
