#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve-interactive --seed 1 --seconds 5 --trace 0

Builds the engine (src/main/scala) together with the benchmark's own
sources (perfbench/scala) with the Scala compiler that ships in Spark's
jars, generates the seeded inputs, runs one fresh JVM, and prints the
result as the last line of standard output.  Build output is cached in
.bench_build/ by a hash of every source file; each run works in its own
directory under .bench_work/ and removes it at the end.  Spans of a
traced run (--trace 1) and each run's JVM log land in .bench_results/.

    python3 perfbench/run.py --selftest     runs the checker's own tests
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# the round mix of each workload lives in Main.scala, the input sizes in gen.py
WORKLOADS = ["serve-interactive", "ingest-mutate"]
HEAP = "2g"
# Spark's local cores: two leave the driver thread, GC and JIT room on a
# 4-core host, so a shared host's stalls move the figures less
CORES = 2
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    for d in (os.environ.get("SPARK_JARS"),
              os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")):
        if d and os.path.isdir(d):
            return d
    fail("no Spark jars found (set SPARK_JARS or SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "scala")
    if not os.path.isdir(main):
        fail("the engine's sources (src/main/scala) are not in this checkout")
    out = []
    for top in (main, bench):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, ".bench_build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail("build failed", 1)
    with open(os.path.join(out, "ok"), "w") as f:
        f.write("built in %.1f s\n" % (time.time() - t0))
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return classes


def java_cmd(classes, heap, work, main, args):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    cp = classes + os.pathsep + os.path.join(spark_jars(), "*")
    return (["java", "-Xms" + heap, "-Xmx" + heap, "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false"] + opens + ["-cp", cp, main] + args)


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the JVM did not finish within %d s (log: %s)" % (JVM_TIMEOUT_S, log_path), 1)
    return p.returncode, stdout


def main():
    ap = argparse.ArgumentParser(description="perfbench: one workload, one JVM")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    classes = build()
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(ROOT, ".bench_work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            code, out = run_jvm(java_cmd(classes, "512m", work, "graft.perfbench.CheckerTest", []),
                                os.path.join(results, "selftest.log"))
            print(out.strip())
            sys.exit(code)
        if a.workload is None or a.seed is None or a.seconds is None:
            ap.error("--workload, --seed and --seconds are required")
        inp = os.path.join(work, "input")
        gen.generate(a.seed, inp)
        tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
        log = os.path.join(results, tag + ".log")
        cores = max(1, min(CORES, os.cpu_count() or 1))
        code, out = run_jvm(java_cmd(classes, HEAP, work, "graft.perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", inp, "--work", os.path.join(work, "engine"),
            "--spans", os.path.join(results, tag + ".spans.jsonl"), "--cores", str(cores)]), log)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail("the JVM exited with code %d (log: %s)" % (code, log), 1)
        result = json.loads(lines[-1])
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
