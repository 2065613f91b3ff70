#!/usr/bin/env python3
"""End-to-end CDC trigger benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload bulk-upsert --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload fanout-30 --seed 1 --seconds 5 --selftest

Builds the program and the benchmark from source (perfbench/build.sh),
then runs one workload in one JVM on local[nproc]. Seeded envelope files
are landed one per trigger into a directory that Spark's file source
watches, and `CdcPipeline.streamWriter` drains them into the workload's
targets. Every target is then checked against a last-write-wins oracle
built from the generator's own events.

With --trace 0 the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer ones, from a run that also
replays the workload's first files layer by layer. The line before it
records the run's context. --selftest also checks that the correctness
gate rejects a target with one row altered or dropped. The exit code is
non-zero when the gate fails or the run cannot complete.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the program's build file passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """SPARK_HOME, else spark-submit on PATH, else the jar directory the
    program's build file names (`unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars found (set SPARK_HOME)")


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        with open(os.path.join(BUILD, "classes.stamp")) as f:
            return "sources:" + f.read().strip()[:16]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = bench["per_layer" if a.trace else "end_to_end"]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) in this checkout")

    started = time.monotonic()
    load_start = load1()
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    fresh = not os.path.isdir(os.path.join(BUILD, "classes"))
    build = subprocess.run(["bash", "perfbench/build.sh", jars], cwd=ROOT,
                           stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if build.returncode != 0:
        fail("build failed")

    workers = len(os.sched_getaffinity(0))
    out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(out, d))
    # -XX:-UsePerfData: the JVM would otherwise write its perf file to /tmp.
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Dspark.master=local[{workers}]",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.hadoop.fs.file.impl=perfbench.NioLocalFileSystem",
        "-Dspark.hadoop.fs.AbstractFileSystem.file.impl=perfbench.NioLocalFs",
        f"-Dspark.local.dir={out}/spark-local",
        f"-Dspark.sql.warehouse.dir={out}/warehouse-dir",
        f"-Djava.io.tmpdir={out}/tmp",
        f"-Dspark.hadoop.hadoop.tmp.dir={out}/tmp",
        f"-Dderby.system.home={out}/derby",
        f"-Dderby.stream.error.file={out}/derby/derby.log",
        f"-Dlog4j2.configurationFile={ROOT}/perfbench/log4j2.properties",
        "-cp", f"{BUILD}/classes:{jars}/*",
        "perfbench.CdcBench",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out, "--workers", str(workers),
        "--selftest", "1" if a.selftest else "0",
    ]
    budget = (BUILD_TIMEOUT_S if fresh else RUN_TIMEOUT_S) - (time.monotonic() - started)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded its time budget; log in {out}/jvm.log")
    result_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(out, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    with open(result_path) as f:
        res = json.load(f)

    metrics = res["metrics"] if isinstance(res["metrics"], dict) else {}
    context = dict(res["context"])
    context.update({
        "nproc": workers, "load1_start": load_start, "load1_end": load1(), "xmx": HEAP,
        "commit": commit(), "errors": res["errors"],
    })
    correct = bool(res["correct"])
    if a.selftest:
        correct = correct and context.get("selftest") is True
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if correct and missing:
        context["errors"].append(f"metrics not measured: {missing}")
        correct = False

    # Tracing overhead: the traced trigger p50 against the last untraced
    # run of the same workload and seed in this checkout, when there is one.
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    last = os.path.join(results, f"{a.workload}-s{a.seed}-untraced.json")
    if correct and not a.trace:
        with open(last, "w") as f:
            json.dump(metrics, f)
    if correct and a.trace and os.path.exists(last):
        with open(last) as f:
            base = json.load(f)["trigger_p50_s"]
        context["tracing_overhead_s"] = metrics["streaming.traced_trigger_p50_s"] - base
    for name in ("spans.jsonl", "result.json", "jvm.log"):
        if os.path.exists(os.path.join(out, name)):
            shutil.copy(os.path.join(out, name),
                        os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}-{name}"))
    shutil.rmtree(out, ignore_errors=True)

    print(json.dumps({"context": context}))
    attempted = max(1, int(res["attempted"]))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": 0 if correct else attempted,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted if m["name"] in metrics},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
