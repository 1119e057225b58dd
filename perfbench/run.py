#!/usr/bin/env python3
"""Text→image retrieval benchmark.

    python3 perfbench/run.py --workload serve_exact_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. Compiles the program (src/main/scala) and the
benchmark driver (perfbench/src) with the Scala compiler that ships in
$SPARK_HOME/jars, caching the classes under .bench_build/ by source hash,
then runs one workload in a fresh JVM. Prints every metric with its unit
and, as the last line, one JSON object with the keys correct, attempted,
failed and metrics (end-to-end metrics untraced, per-layer metrics traced).
Exits nonzero without a result line when the build fails, the program
returns a wrong result, or the run exceeds its time limit.
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

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness  # noqa: E402

WORKLOADS = ("ingest_build", "serve_exact_sync")
BUILD_DIR = os.path.join(".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xss8m",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    return os.path.join(home, "jars")


def sources():
    program = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not program:
        fail("no program sources under src/main/scala; run from the repository root")
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return program + bench


def build():
    """Compile when the sources changed since the last build; returns the
    classes directory."""
    files = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    key = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    compiler = [p for name in ("scala-compiler", "scala-library", "scala-reflect")
                for p in glob.glob(os.path.join(jars, name + "-2.13.*.jar"))]
    if len(compiler) != 3:
        fail(f"Scala 2.13 compiler jars not found in {jars}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", classes] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("compile failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    return classes


def run_jvm(classes, args):
    """Runs one workload; returns the raw report."""
    work = os.path.abspath(os.path.join(
        BUILD_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    report = os.path.join(work, "report.json")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", os.pathsep.join([os.path.abspath(classes), os.path.join(spark_jars(), "*")]),
        "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), work, report]
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S}s")
        if code != 0:
            fail(f"run failed with exit code {code}", code)
        with open(report) as fh:
            return json.load(fh)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def print_table(title, metrics, units):
    print(f"== {title}")
    for k in units:
        print(f"  {k:32s} {metrics[k]:14.6g} {units[k]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops and reaps the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        fail("--seconds must be positive")

    raw = run_jvm(build(), args)
    attempted, failed = harness.failure_totals(raw["ops"])
    e2e = harness.end_to_end(raw)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(raw['query_ms'])} queries, {len(raw['refresh_ms'])} refreshes, "
          f"{len(raw['ingest'])} ingest passes; {failed} of {attempted} operations failed "
          f"(ops_failed_frac {failed / attempted:.6g})")
    print_table("end-to-end" + (" (traced run)" if args.trace else ""),
                e2e, harness.END_TO_END_UNITS)
    if args.trace:
        layers = harness.per_layer(raw)
        print_table("per-layer", layers, harness.PER_LAYER_UNITS)
        print("== spans: count, total ms, self ms")
        for name, (n, total, own) in sorted(harness.self_times(raw["spans"]).items()):
            print(f"  {name:32s} {n:6d} {total:12.1f} {own:12.1f}")
        traces = os.path.join(BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(raw["spans"], fh)
        result = harness.result_line(layers, harness.PER_LAYER_UNITS, attempted, failed)
    else:
        result = harness.result_line(e2e, harness.END_TO_END_UNITS, attempted, failed)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
