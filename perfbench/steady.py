"""Steadiness check: run one workload once per seed and report, for each
metric, the median and the spread (interquartile range over median, the
quartiles as `statistics.quantiles(values, n=4)` gives them).

    python3 perfbench/steady.py --workload index_maintain --seeds 1-10 --seconds 20
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    a = ap.parse_args()
    values, walls, controls = {}, [], []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", "0"],
                           capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            raise SystemExit(f"seed {s}: exit {r.returncode}")
        out = json.loads(r.stdout.strip().splitlines()[-1])
        if not out["correct"] or out["failed"]:
            raise SystemExit(f"seed {s}: {r.stderr.strip().splitlines()[-1]}")
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        summary = [json.loads(line) for line in r.stderr.splitlines()
                   if line.startswith('{"workload"')][-1]
        controls.append(statistics.mean(summary["host_control_ms"]))
        print(f"seed {s}: {walls[-1]:.1f} s", file=sys.stderr)
    report = {"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
              "run_wall_s": {"max": max(walls), "median": statistics.median(walls)},
              "host_control_ms": controls, "metrics": {}}
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        report["metrics"][k] = {"median": med,
                                "spread": (q3 - q1) / med if med else None,
                                "values": v}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
