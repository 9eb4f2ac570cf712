#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload extract-assemble --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout. The script compiles the engine
(src/main/scala) together with the benchmark harness (perfbench/src) with
the Scala compiler that ships in $SPARK_HOME/jars, caching the classes in
.bench_build/ until a source file changes. It then starts one JVM running
Spark in local mode with one thread per core, and prints the harness's
result, one JSON object, as the last line of standard output.

Every file the run writes stays under .bench_build/ in the checkout; the
per-run work directory is deleted at the end. Span traces of --trace 1 runs
are kept in .bench_build/traces/.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.sha256")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# Pinned -Xms = -Xmx with pre-touch, the heap shape build.sbt gives Bench.
HEAP = "3g"
# The result must be printed within 180 s of the start of a run.
DEADLINE_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        spark_submit = shutil.which("spark-submit")
        if spark_submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(spark_submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark distribution found: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    files = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile engine + harness unless the cached classes match the sources."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(ENGINE_RES):
        die(f"engine sources not found under {ROOT}: run from a source checkout")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    t0 = time.time()
    rc = subprocess.call(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={BUILD}", "-cp", jars, "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", CLASSES] + files,
        stdout=sys.stderr)
    if rc != 0:
        die("compilation failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.0f} s",
          file=sys.stderr)


def main():
    with open(SPEC) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    jars = spark_jars()
    build(jars)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            "-cp", os.pathsep.join([CLASSES, ENGINE_RES, jars]),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work-dir", work,
            "--trace-dir", os.path.join(BUILD, "traces"),
            "--expected", os.path.join(BENCH_DIR, "expected.json"),
            # launch time: JVM and session start-up count toward setup_s
            "--t0-ms", str(int(time.time() * 1000))])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # on SIGTERM, still stop the JVM and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {DEADLINE_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    result = [line for line in out.splitlines() if line.startswith("RESULT ")]
    if proc.returncode != 0 or not result:
        sys.stderr.write(out)
        die(f"harness exited with {proc.returncode}")
    res = json.loads(result[-1][len("RESULT "):])
    print(json.dumps(report(res, spec["per_layer" if args.trace else "end_to_end"], args.trace)))


def report(res, spec, trace):
    """The contract's result object, with units from BENCHMARK.json.

    Untraced runs report every end-to-end metric. Traced runs report every
    per-layer metric; a layer the workload does not exercise reads 0.
    """
    values = res["values"]
    unknown = set(values) - {m["name"] for m in spec}
    missing = {m["name"] for m in spec} - set(values)
    if unknown or (missing and not trace):
        die(f"metrics not in BENCHMARK.json: {sorted(unknown)}; missing: {sorted(missing)}")
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


if __name__ == "__main__":
    main()
