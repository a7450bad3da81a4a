#!/usr/bin/env python3
"""Run one benchmark workload; the last line of stdout is its JSON result.

    python3 perfbench/run.py --workload smallfile-merge --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run builds the program and the benchmark from source (build.py). All
state lives in perfbench/.work: the build, the inputs cached per seed, the
traces, and one run's staging tables and Spark scratch space, which are
deleted when the run ends. With --trace 0 the result holds every end-to-end
metric of BENCHMARK.json, with --trace 1 every per-layer metric. Without the
program's sources the run fails before printing a result.
"""
import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys

import build

# add-opens that spark-submit passes on JDK 17 (the program's build.sbt has the same list)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
HEAP_GB = 3
TIMEOUT_S = 170


def mem_available_gb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable"):
                return int(line.split()[1]) / (1 << 20)
    return float("nan")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")
    if not os.path.isdir(build.PROGRAM_SRC):
        sys.exit("perfbench: no program sources at %s" % build.PROGRAM_SRC)
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    # one run at a time per checkout: runs share the staging path and cache
    os.makedirs(build.WORK, exist_ok=True)
    lock = open(os.path.join(build.WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classes, key = build.build()
    avail = mem_available_gb()
    heap = HEAP_GB if avail >= 2 * HEAP_GB else max(1, int(avail / 2))
    tmp = os.path.join(build.WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx%dg" % heap, "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties")]
    for o in OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--work", build.WORK, "--build", key]
    if a.selftest:
        cmd += ["--selftest", "1"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        sys.exit("perfbench: the benchmark JVM exited with %d and no result" % proc.returncode)
    out = json.loads(lines[-1])
    notes = dict(out["notes"], mem_available_gb="%.1f" % avail, heap_gb=str(heap))
    if heap < HEAP_GB:
        notes["memory"] = "tight: heap lowered from %dg to %dg" % (HEAP_GB, heap)
    print("# " + json.dumps(notes, sort_keys=True))
    if a.selftest:
        print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "values")}))
        sys.exit(proc.returncode)

    declared = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in out["values"]]
    if missing:
        sys.exit("perfbench: the benchmark JVM did not measure %s" % ", ".join(missing))
    metrics = {m["name"]: {"value": out["values"][m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    sys.exit(0 if proc.returncode == 0 and out["correct"] else 1)


if __name__ == "__main__":
    main()
