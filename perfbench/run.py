"""Runs one benchmark workload; see perfbench/README.md.

    python3 perfbench/run.py --workload plug_plain --seed 1 --seconds 10 --trace 0

Run from the repo root. Builds the program if needed (perfbench/build.py),
starts one JVM for the workload, passes its report through, and prints as
the last stdout line one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json names (end_to_end with --trace 0, per_layer with
--trace 1), each with its unit. Exits non-zero, without that line, if the
build, the run or the metric set fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # write nothing outside .bench_build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("plug_plain", "plug_audit", "plug_long_chain", "ops_mix")
RUN_TIMEOUT_S = 170

# Per-layer metric prefixes of layers a workload never calls; they read 0.
# Any other metric the JVM does not report is an error.
NOT_APPLICABLE = {
    "ops_mix": ("plug.", "plan."),
    "plug": ("ops.", "q.", "ext.", "io.fs_", "cache."),
}

# Spark on JDK 17 outside spark-submit, as in the repo's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classes = build.build(root)

    work = os.path.join(root, build.BUILD_DIR, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    artifact = os.path.join(root, build.BUILD_DIR, "traces", f"{a.workload}-seed{a.seed}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work-dir", work, "--artifact", artifact,
            "--expected", os.path.join(root, "perfbench", "ops_mix_expected.tsv"),
            "--launch-ms", str(int(time.time() * 1000))]
    result = None
    # stdin stays open while this process lives: the JVM stops when it closes
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    # kills the JVM at the deadline even if it hangs without printing
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                print(line, end="", flush=True)
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        if proc.returncode == -9:
            print(f"perfbench: run killed after {RUN_TIMEOUT_S} s", file=sys.stderr)
        sys.exit(1)

    got = result["metrics"]
    absent = NOT_APPLICABLE["ops_mix" if a.workload == "ops_mix" else "plug"] if a.trace else ()
    metrics = {}
    for m in wanted:
        value = got.get(m["name"], 0.0 if m["name"].startswith(absent) else None)
        if value is None:
            sys.exit(f"perfbench: {a.workload} did not report {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
