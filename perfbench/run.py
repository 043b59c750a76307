#!/usr/bin/env python3
"""Build and run the benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload crawl-durable --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --goldens perfbench/goldens.json

The first call compiles the repository's main sources together with
perfbench/src into .bench_build/, with the Scala compiler among the Spark
jars the sbt build uses (build.sbt's unmanagedBase, else $SPARK_HOME/jars);
later calls reuse the build while the sources are unchanged. The benchmark JVM writes only under .bench_out/. The last
line of standard output is the result JSON; Spark's log goes to
.bench_out/<run>.log.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(ROOT, ".bench_out")
JAVA_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """The Spark jars the sbt build compiles against (its unmanagedBase),
    else $SPARK_HOME/jars."""
    jars = None
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build_sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        jars = m and m.group(1)
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    found = sorted(glob.glob(os.path.join(jars, "*.jar"))) if jars else []
    if not found:
        fail("no Spark jars found (build.sbt unmanagedBase or $SPARK_HOME/jars)")
    return jars, found


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("run from the repository root: src/main/scala not found")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(ROOT, BENCH, "src", "*.scala")))
    return srcs


def build():
    """Compile the program and the benchmark; returns the classes dir."""
    srcs = sources()
    jars_dir, jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail(f"scala compiler, library and reflect jars not found in {jars_dir}")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", classes, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_java(classes, args, log_name, timeout, want_output=True):
    jars_dir, _ = spark_jars()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join([classes, os.path.join(jars_dir, "*")]),
            "perfbench.Main"] + args
    log = os.path.join(OUT, log_name)
    with open(log, "wb") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"benchmark JVM exceeded {timeout} s (log: {log})")
    # scratch the JVM leaves behind: shuffle files, snapshots, temp files
    for d in glob.glob(os.path.join(OUT, "snap-*")) + [
            os.path.join(OUT, "spark-local"), tmp]:
        shutil.rmtree(d, ignore_errors=True)
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    if proc.returncode != 0 or (want_output and not lines):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode} (log: {log})")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true",
                    help="fixture check: 309 pages / 9 rounds / 1417 skill hits")
    ap.add_argument("--goldens", metavar="OUT",
                    help="record this commit's goldens into OUT")
    a = ap.parse_args()
    classes = build()
    os.makedirs(OUT, exist_ok=True)
    if a.smoke:
        lines = run_java(classes, ["--smoke"], "smoke.log", JAVA_TIMEOUT_S)
        print(lines[-1])
        sys.exit(0 if '"pass"' in lines[-1] else 1)
    if a.goldens:
        run_java(classes, ["--goldens", a.goldens], "goldens.log", 3600,
                 want_output=False)
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    name = f"{a.workload}-{a.seed}-{a.trace}.log"
    lines = run_java(classes, ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", a.trace],
                     name, JAVA_TIMEOUT_S)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
