#!/usr/bin/env python3
"""Execution samples of a benchmark run spent compiling generated code,
loading classes from the driver or gzipping Hadoop property sources, from a
JFR recording with the `profile` settings.

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile \
        python3 perfbench/run.py --workload sink_microbatch --seed 7 \
        --seconds 20 --trace 1 --keep
    python3 tools/bench_samples.py /tmp/run.jfr \
        .bench_build/runs/<run>/result.json

A sample counts under the first marker (a substring of `Class.method`)
found in its stack: janino's compiler (`org.codehaus.janino.`: generated
code being compiled), Spark's `ExecutorClassLoader` (classes fetched
from the driver over RPC), or Hadoop's `WritableUtils` compressed strings,
written and read apart: the per-key property sources a `Configuration`
serializes, one gzip stream per key (a job's Hadoop conf on the DAG
scheduler thread or a scan broadcast; a task deserializing it). A
micro-batch whose query reuses the JVM's codegen cache has no janino or
`ExecutorClassLoader` sample; a session whose Hadoop conf carries no
resource sources (`Tables.dropPropertySources`) has few compressed-string
ones. It prints the samples per marker, then per operation span of a kept
run as `tools/bench_spawns.py` does, then the samples outside every span.
"""

import argparse
import json
import subprocess

from bench_spawns import epoch_ms, jfr_tool, report

MARKERS = ["org.codehaus.janino.", "ExecutorClassLoader",
           "WritableUtils.writeCompressedString", "WritableUtils.readCompressedString"]


def samples(recording):
    """(epoch ms, marker) of every execution sample whose stack holds a
    marker."""
    # 64 frames: all a recording keeps of a stack by default
    out = subprocess.run(
        [jfr_tool(), "print", "--json", "--stack-depth", "64",
         "--events", "jdk.ExecutionSample", recording],
        check=True, capture_output=True, text=True).stdout
    hits = []
    for e in json.loads(out)["recording"]["events"]:
        # JFR names classes in their internal form (`org/codehaus/...`)
        frames = [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
                  for f in e["values"]["stackTrace"]["frames"]]
        found = next((m for m in MARKERS if any(m in f for f in frames)), None)
        if found:
            hits.append((epoch_ms(e["values"]["startTime"]), found))
    return hits


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording", help="a .jfr recording of the run's JVM")
    ap.add_argument("result", nargs="?", help="result.json of the kept run")
    a = ap.parse_args()
    result = None
    if a.result:
        with open(a.result) as f:
            result = json.load(f)
    print(report(samples(a.recording), result, "samples"))


if __name__ == "__main__":
    main()
