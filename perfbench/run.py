"""Benchmark entry point.

    python3 perfbench/run.py --workload sink_microbatch --seed 1 --seconds 30 --trace 0

Builds the program with the benchmark (first run only), generates the
workload's inputs from the seed, runs the JVM side with every scratch
location inside a fresh run directory, gates correctness and prints one
JSON object as the last line of standard output: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. See README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402

WORKLOADS = ("sink_microbatch", "index_maintain")
DEADLINE_S = 170  # a run must exit within 180 s once built

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def generate(workload, out, seed, seconds):
    if workload == "sink_microbatch":
        # the warm-up and measured batches of Main.sinkMicrobatch
        return gen.generate(workload, out, seed, files=3 + max(12, seconds * 3 // 5))
    # the passes of IndexMaintain.run: one per maintenance cycle
    return gen.generate(workload, out, seed, passes=max(1, seconds // 25))


def run_jvm(classes, workload, run_dir, seconds, traced, deadline):
    scratch = os.path.join(run_dir, "scratch")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    cmd = [build.java(), "-Xmx2g", "-Xss8m"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dgraft.index.cache={os.path.join(scratch, 'index_cache')}",
        f"-Dderby.system.home={scratch}",
        f"-Dderby.stream.error.file={os.path.join(scratch, 'derby.log')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        "graft.perfbench.Main", workload, os.path.join(run_dir, "input"),
        scratch, str(seconds), "1" if traced else "0", out,
    ]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=scratch, start_new_session=True)
        try:
            code = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM run failed ({code})")
    with open(out) as f:
        return json.load(f)


def same_digests(a, digests):
    """Probe digests must not change between runs of one seed and one
    build: the first run of a seed records them under the build's stamp,
    later runs compare against that record."""
    if not digests:
        return []
    d = os.path.join(build.OUT, "digests", build.current_stamp()[:16])
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{a.workload}-s{a.seed}-t{a.seconds}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(digests, f)
        return []
    with open(path) as f:
        before = json.load(f)
    return [f"probe after {k}: digest differs from an earlier run of this seed"
            for k, v in digests.items() if before.get(k, v) != v]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, JVM log, raw result)")
    a = ap.parse_args()

    classes = build.ensure_built()
    deadline = time.monotonic() + DEADLINE_S
    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        manifest = generate(a.workload, os.path.join(run_dir, "input"), a.seed, a.seconds)
        result = run_jvm(classes, a.workload, run_dir, a.seconds, a.trace == 1, deadline)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)

    failures, gate_failed = analyze.check(result, manifest)
    e2e, info = analyze.end_to_end(result, manifest)
    failures += same_digests(a, info.get("digests", {}))
    attempted = len(result["ops"])
    failed = sum(1 for i, o in enumerate(result["ops"]) if not o["ok"] or i in gate_failed)
    if a.trace:
        metrics = trace.per_layer(result, manifest)
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump({"spans": result["trace"]["spans"],
                       "per_layer": {k: v for k, (v, _) in metrics.items()}}, f)
    else:
        metrics = e2e
    missing = [k for k, (v, _) in metrics.items() if v is None]
    for o in result["ops"]:
        if not o["ok"]:
            failures.append(f"op {o['kind']} {o.get('file', '')}: {o['error']}")
    if missing:
        failures.append("not reportable (too few samples or ops): " + ", ".join(missing))
    sys.stderr.write(json.dumps({
        "workload": a.workload, "seed": a.seed, "cpus": result["cpus"],
        "failed_op_share": f"{failed}/{attempted}", **info,
        "failures": failures}) + "\n")
    if missing:
        raise SystemExit(1)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
