#!/usr/bin/env python3
"""Pipeline benchmark for the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--selftest]

Run from the repository root. The first run builds the engine and the
benchmark into .bench_build/ (see build.py); later runs reuse the build
while the sources are unchanged. The workload runs in one JVM on one
SparkSession at local[nproc]; its last stdout line is one JSON object
with correct / attempted / failed / metrics.

Workloads: pipeline (a stream restart, then the weekly batch) and
analytics_rounds (see perfbench/NOTES.md). The analytics workload reads
the parquet fixtures in $SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.01.

Environment: SPARK_HOME (Spark jars; else found from spark-submit on
PATH), JAVA_HOME (else java on PATH).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout stays as git left it
from build import BUILD, BENCH, ROOT, build, fail, java_bin, spark_jars  # noqa: E402

WORKLOADS = ("pipeline", "analytics_rounds")
# a run is expected to finish within 180 s; stop it short of that
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="corrupt one output and require the check to fail it")
    a = ap.parse_args()

    java = java_bin()
    jars = spark_jars()
    classes = build(java, jars)
    # set-up is timed from here: JVM start onwards, not the build
    launched_ms = int(time.time() * 1000)
    fixtures = os.environ.get("SPARK_GRAFT_SF_DIR",
                              os.path.expanduser("~/testdata/sf0.01"))
    if a.workload == "analytics_rounds" and not os.path.isdir(fixtures):
        fail(f"fixtures not found: {fixtures} (set SPARK_GRAFT_SF_DIR)")

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opts = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opts, "-Xmx3g",
           "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--fixtures", fixtures,
           "--expected", os.path.join(BENCH, "analytics_hashes.json"),
           "--launched-ms", str(launched_ms)]
    if a.selftest:
        cmd.append("--selftest")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    lines = [x for x in out.splitlines() if x.strip()]
    for line in lines[:-1]:
        print(line)
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        fail(f"workload exited with code {proc.returncode}")
    print(json.dumps(result(json.loads(lines[-1]), a.trace)))
    sys.exit(proc.returncode)


def result(raw, trace):
    """The contract line: every end-to-end metric (untraced) or every
    per-layer metric (traced, 0 for a layer the workload leaves idle),
    named and with units as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if trace:
        metrics = {m["name"]: {"value": raw["layers"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"]
                   if raw["e2e"].get(m["name"]) is None]
        if missing:
            fail(f"end-to-end metrics not measured: {missing}")
        metrics = {m["name"]: {"value": raw["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": raw["correct"], "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}


if __name__ == "__main__":
    main()
