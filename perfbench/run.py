#!/usr/bin/env python3
"""Benchmark entry point. Run it from the root of a checkout:

    python3 perfbench/run.py --workload etl_dirty --seed 1 --seconds 10 --trace 0

Workloads: etl_dirty and registry_sweep (see BENCHMARK.json).
The first run builds the program and the benchmark from source with sbt
(perfbench/build.sbt) and caches the classpath under the build directory
($CARGO_TARGET_DIR, else .bench_build); later runs rebuild only when a
source file changed. Each run starts one JVM, which generates its inputs
from the seed, warms up, measures for --seconds and checks every op's
output. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
The full result, with the host fingerprint, load averages and (traced)
spans, is kept in <build dir>/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

START = time.monotonic()
DEADLINE_S = 170.0
WORKLOADS = ("etl_dirty", "registry_sweep")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    trees = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src", "main")]
    files = [os.path.join(root, "perfbench", f) for f in ("build.sbt", "project/build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("cannot find Spark's jars: set SPARK_HOME")
    return os.path.join(home, "jars")


def build(root, out):
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "logs", "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.sparkJars={spark_jars()}",
           "export Runtime/fullClasspath"]
    print("perfbench: building with sbt ...", file=sys.stderr)
    with open(log, "w") as fh:
        p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=subprocess.PIPE, stderr=fh, text=True, timeout=840)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1], stamp


def declared(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "perfbench/build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a full checkout")
    e2e, layers = declared(root)

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    for d in ("logs", "results", "tmp", "spark-local", "work"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    cp, stamp = build(root, out)
    build_s = time.monotonic() - START

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    result = os.path.join(out, "results", tag + ".json")
    if os.path.exists(result):
        os.remove(result)
    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(out, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result,
            "--source", "sha256:" + stamp[:16]]
    log = os.path.join(out, "logs", tag + ".log")
    budget = DEADLINE_S + (build_s if build_s > 5 else 0) - (time.monotonic() - START)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=fh, stderr=subprocess.PIPE, text=True)

        def pump():
            for line in p.stderr:
                fh.write(line)
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)

        relay = threading.Thread(target=pump, daemon=True)
        relay.start()
        try:
            p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"run exceeded its time budget, see {log}")
        finally:
            relay.join(timeout=5)
    if p.returncode != 0 or not os.path.exists(result):
        die(f"benchmark JVM exited with {p.returncode}, see {log}")

    with open(result) as fh:
        r = json.load(fh)
    want = layers if a.trace else e2e
    got = r["metrics"]
    unknown = sorted(set(got) - set(want))
    if unknown:
        die(f"undeclared metrics {unknown}")
    # a layer this workload never enters did no work in it: 0
    missing = sorted(set(want) - set(got))
    if missing and not a.trace:
        die(f"end-to-end metrics missing: {missing}")
    metrics = {n: {"value": got.get(n, 0.0), "unit": want[n]} for n in want}
    if any(m["value"] is None for m in metrics.values()):
        die(f"a metric could not be measured, see {result}")
    for f in r["failures"]:
        print(f"perfbench: failure: {f}", file=sys.stderr)
    print(f"perfbench: result {result}", file=sys.stderr)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
