#!/usr/bin/env python3
"""Record a workload's traced-run summary in perfbench/traces/<workload>.json.

    python3 perfbench/trace_summary.py --workload ann_point --seed 7 --seconds 20

Runs the workload twice with the same seed, untraced and then traced, and
writes the traced run's per-layer metrics, both runs' end-to-end and named
metrics, the tracing overhead (traced over untraced, minus one, for every
end-to-end metric), per-op span statistics (calls, median wall and self
ms, jobs per call) and both environment blocks.
"""

import argparse
import glob
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, results):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                    "--results", results], cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    [f] = [f for f in glob.glob(os.path.join(results, "*-trace%d-*.json" % trace))
           if not f.endswith(".spans.json")]
    with open(f) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "work")) as results:
        plain = run(args.workload, args.seed, args.seconds, 0, results)
        traced = run(args.workload, args.seed, args.seconds, 1, results)
    overhead = {k: traced["end_to_end"][k] / v - 1
                for k, v in plain["end_to_end"].items() if v}
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "ops": traced["ops"], "ops_failed": traced["ops_failed"],
        "layers": traced["layers"],
        "untraced": {"end_to_end": plain["end_to_end"], "metrics": plain["metrics"],
                     "env": plain["env"]},
        "traced": {"end_to_end": traced["end_to_end"], "metrics": traced["metrics"],
                   "env": traced["env"]},
        "tracing_overhead": overhead,
        "op_spans": traced["op_spans"],
    }
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    out = os.path.join(HERE, "traces", args.workload + ".json")
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(out)


if __name__ == "__main__":
    main()
