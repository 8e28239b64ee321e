#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload query_light --seed 1 --seconds 14 --trace 0

Builds the harness (perfbench/build.sbt, which compiles ../src/main with
it) when its sources changed, runs one JVM for the workload, checks the
outputs, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the run records spans and Spark jobs and reports the per-layer
ones. A readable report, with every metric of the workload, the self time
per layer and (for a traced run) the tracing overhead against an untraced
run of the same seed, goes to stderr; the full record is kept in
perfbench/.runs/. `--workload all` runs every workload in turn.

Input tables are the fixed testdata (sf0.001/sf0.01/sf0.1 directories).
They are looked up in $PERFBENCH_TESTDATA, else next to the engine's own
default source directory (graft.producer.data.sourceDir).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import checks
import report

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_JSON = os.path.join(ROOT, "BENCHMARK.json")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
RUNS = os.path.join(HERE, ".runs")
WORK = os.path.join(HERE, ".work")

# Per workload: the testdata scale that feeds it and the wall-time limit
# of one run (build excluded). query_heavy is not in BENCHMARK.json: one
# run takes nearly four minutes on 4 cores.
WORKLOADS = {
    "stream_ingest": {"sf": "sf0.1", "deadline_s": 170},
    "query_light": {"sf": "sf0.01", "deadline_s": 170},
    "query_heavy": {"sf": "sf0.01", "deadline_s": 900},
}
BUILD_TIMEOUT_S = 850

JVM_OPTS = [
    # A fixed heap ceiling and no pre-touch: the heap grows with what the
    # run allocates and keeps live, so peak RSS follows the program. The
    # parallel collector sizes the heap for throughput; G1 sizes it from
    # pause and GC-time goals that follow the machine's timing, and its
    # peak RSS varied 1.25-1.82 GB between runs of the same query_light
    # work, against 1.36-1.44 GB with this collector.
    "-Xmx2g", "-XX:+UseParallelGC",
    # Spark 4 on JDK 17 outside spark-submit needs these module opens
    # (org.apache.spark.launcher.JavaModuleOptions).
    *[x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with the engine when a source changed; return
    the runtime classpath and the source stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read(), stamp
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.forcestart=false",
                 "compile", "writeClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
            code = r.returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            code = f"{type(e).__name__}: {e}"
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"build failed ({code}); see {log}\n{tail}", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)
    with open(CLASSPATH) as c:
        return c.read(), stamp


def testdata_root():
    env = os.environ.get("PERFBENCH_TESTDATA")
    if env:
        return env
    conf = os.path.join(ROOT, "src", "main", "scala", "graft", "GraftConfig.scala")
    with open(conf) as f:
        m = re.search(r'"graft\.producer\.data\.sourceDir"\s*->\s*"([^"]+)"', f.read())
    if not m:
        fail("cannot find the engine's default source directory; set PERFBENCH_TESTDATA")
    return os.path.dirname(m.group(1))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def run_jvm(classpath, workload, seed, seconds, trace, sf_dir, work, deadline):
    """Start the harness JVM in its own process group and wait for it;
    kill the whole group at the deadline."""
    out = os.path.join(work, "record.json")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = str(nproc())
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPTS,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--sf", sf_dir, "--work", work, "--out", out, "--cpus", cpus]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=f"{work}/local")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = "".join(l for l in f.readlines()[-40:])
        fail(f"{workload} JVM exited with {code}\n{tail}", 4)
    with open(out) as f:
        return json.load(f)


def listed_metrics(trace):
    with open(BENCH_JSON) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def one_run(workload, seed, seconds, trace, classpath, stamp):
    start = time.time()
    deadline = start + WORKLOADS[workload]["deadline_s"]
    data = testdata_root()
    sf_dir = os.path.join(data, WORKLOADS[workload]["sf"])
    if not os.path.isdir(sf_dir):
        fail(f"testdata directory {sf_dir} not found")
    work = os.path.join(WORK, f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(classpath, workload, seed, seconds, trace, sf_dir, work,
                      deadline)
        rec["env"].update({"git_commit": git_commit(), "source_stamp": stamp,
                           "seed": seed})
        if workload == "stream_ingest":
            rec["checks"] = checks.stream_outputs(rec["dirs"])
            rec["output_files"] = {"paced": report.output_files(rec["dirs"]["paced"])}
        else:
            rec["oracle_checks"] = checks.query_results(
                data_dir=sf_dir, out_dir=rec["out_dir"],
                sqls=rec["oracle_sql"])
        res = report.summarize(rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["wall_s"] = time.time() - start
    os.makedirs(RUNS, exist_ok=True)
    name = f"{workload}-seed{seed}-trace{trace}.json"
    untraced = os.path.join(RUNS, f"{workload}-seed{seed}-trace0.json")
    if trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        same = ("source_stamp", "sf_dir", "cpus")
        if all(base["summary"]["env"].get(k) == rec["env"].get(k) for k in same):
            res["overhead"] = report.overhead(base, res)
    with open(os.path.join(RUNS, name), "w") as f:
        json.dump({"summary": res, "record": rec}, f)
    report.print_summary(res, sys.stderr)
    wanted = listed_metrics(trace)
    values = res["per_layer"] if trace else res["end_to_end"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing and not res["failed"]:
        # every operation succeeded, so a missing value is a harness bug
        fail(f"{workload}: no value for {', '.join(missing)}", 5)
    # a metric that failed operations left without a value is null
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
                    for m in wanted},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    if not os.path.exists(BENCH_JSON):
        fail("BENCHMARK.json not found at the repository root")
    classpath, stamp = build()
    if a.workload != "all":
        print(json.dumps(one_run(a.workload, a.seed, a.seconds, a.trace,
                                 classpath, stamp)))
        return
    results = {}
    for w in WORKLOADS:
        if a.trace:
            one_run(w, a.seed, a.seconds, 0, classpath, stamp)
        results[w] = one_run(w, a.seed, a.seconds, a.trace, classpath, stamp)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
