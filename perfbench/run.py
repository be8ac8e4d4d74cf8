#!/usr/bin/env python3
"""Run one benchmark workload against the program's public API.

    python3 perfbench/run.py --workload ann_point --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse that
build while the sources are unchanged. Each run starts one JVM that drives
the program with a single client thread at Spark master local[nproc].

Standard output ends with one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics, where a layer the workload does not touch
reads 0. The line before it holds the workload's own named metrics, the
per-layer metrics it does not measure, and the environment block. The
whole result, with every call's latency and every scored recall, is also
written to perfbench/results/ (see compare.py).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ["ann_point", "ann_bulk", "rw_mixed", "curate_text"]

JVM_FLAGS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [flag for pkg in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
] for flag in ("--add-opens", pkg + "=ALL-UNNAMED")]

RUN_TIMEOUT_S = 170


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.sha256")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-J-Xmx2g",
           "-Dsbt.global.base=" + os.path.join(target, "sbt-global"), "writeClasspath"]
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("build failed (log: %s)" % log)
    with open(stamp_file, "w") as f:
        f.write(digest)
    with open(cp_file) as f:
        return f.read().strip()


def other_jvms():
    n = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as f:
                n += f.read().strip() == "java"
        except OSError:
            pass
    return n


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + source_hash()[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--results", default=os.path.join(HERE, "results"),
                    help="directory that keeps each run's full result")
    args = ap.parse_args()
    # a terminated run stops its build or JVM too: SystemExit unwinds
    # through the waits below, which kill their child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die("no %s beside perfbench/: run from a checkout of the repository" % need)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath = build()
    work = os.path.join(HERE, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")
    env_block = {"other_jvms_at_start": other_jvms(), "loadavg_start": load_avg(),
                 "seed": args.seed, "commit": commit()}
    cmd = ["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                  "-cp", classpath, "perfbench.Main",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--work", work, "--out", out_file]
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(out_file):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            die("workload run failed (exit %s)" % rc)
        with open(out_file) as f:
            res = json.load(f)
        env_block["loadavg_end"] = load_avg()
        env_block.update(res["env"])
        res["env"] = env_block
        values = res["layers" if args.trace else "end_to_end"]
        untouched = set(res["layers_not_measured"])
        missing = [m["name"] for m in wanted
                   if m["name"] not in values and m["name"] not in untouched]
        if missing:
            die("run produced no value for: " + ", ".join(missing))
        # the last line needs a number for every metric: a layer the
        # workload does not touch prints 0 and is named in layers_not_measured
        metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
                   for m in wanted}

        os.makedirs(args.results, exist_ok=True)
        stem = "%s-seed%d-trace%d-%d" % (args.workload, args.seed, args.trace, int(time.time()))
        with open(os.path.join(args.results, stem + ".json"), "w") as f:
            json.dump(res, f, indent=1)
        trace_file = os.path.join(work, "trace.json")
        if args.trace and os.path.exists(trace_file):
            shutil.copy(trace_file, os.path.join(args.results, stem + ".spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "ops": res["ops"],
                      "ops_failed": res["ops_failed"], "failures": res["failures"],
                      "metrics": res["metrics"], "layers_not_measured": res["layers_not_measured"],
                      "env": res["env"]}))
    print(json.dumps({"correct": res["ops_failed"] == 0, "attempted": res["ops"],
                      "failed": res["ops_failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
