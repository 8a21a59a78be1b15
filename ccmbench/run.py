#!/usr/bin/env python3
"""CCM benchmark entry point.

    python3 ccmbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the library (src/main/scala)
and the benchmark (ccmbench/src) from source with the Scala compiler that
ships in the Spark distribution, then runs one benchmark process and relays
its output. The last stdout line is the JSON result; on any failure the
script exits non-zero without printing one. See ccmbench/README.md.
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
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # every run must end within 180 s, the first (building) one within 900 s
BUILD_DEADLINE_S = 600
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"ccmbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    die("no Spark jars: set SPARK_HOME")


def scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_once(name, srcs, classpath, stamp):
    """Compile `srcs` into .bench_build/<name>-<hash>, unless already there."""
    h = hashlib.sha256(stamp.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(WORK_DIR, f"{name}-{h.hexdigest()[:16]}")
    if os.path.isfile(os.path.join(classes, ".ok")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(WORK_DIR, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath, "@" + argfile]
    print(f"ccmbench: compiling {len(srcs)} {name} sources", file=sys.stderr)
    t0 = time.time()
    if subprocess.run(cmd, cwd=ROOT, timeout=BUILD_DEADLINE_S).returncode != 0:
        die(f"compiling {name} failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(WORK_DIR, f"{name}-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"ccmbench: compiled {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def build(jars):
    """The library from src/main/scala, then the benchmark against it."""
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib_src):
        die(f"library sources not found under {lib_src}; run from a source checkout")
    jar_cp = os.path.join(jars, "*")
    lib = compile_once("library", scala_files(lib_src), jar_cp, "")
    bench = compile_once("bench", scala_files(os.path.join(BENCH_DIR, "src")),
                         lib + os.pathsep + jar_cp, lib)
    return bench + os.pathsep + lib


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], required=True)
    a = p.parse_args()

    os.makedirs(WORK_DIR, exist_ok=True)
    jars = spark_jars()
    classes = build(jars)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "ccmbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work-dir", WORK_DIR])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"benchmark process did not finish within {DEADLINE_S} s")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not valid_result(lines[-1]):
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        die(f"benchmark process failed (exit {proc.returncode})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
