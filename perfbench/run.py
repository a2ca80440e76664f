#!/usr/bin/env python3
"""Geocoder benchmark: build from source, run one workload, print the result.

Run from the repository root:

    python3 perfbench/run.py --workload fwd_small --seed 1 --seconds 1 --trace 0

The first run in a checkout compiles the engine (src/main/scala) and the
benchmark (perfbench/src/main/scala) with the Scala compiler shipped in
$SPARK_HOME/jars into one jar under .bench_build/; later runs reuse it while
the sources are unchanged. The JVM options (heap, GC, --add-opens) are read
from perfbench/conf/jvm.options, which build.sbt reads too. The JVM's stdout
is relayed; its last line is the JSON result, which is checked against
BENCHMARK.json before it is printed. Exits non-zero, without a result line,
when the build, the run or the check fails.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src", "main", "scala")

COMPILE_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPTIONS = os.path.join(BENCH_DIR, "conf", "jvm.options")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def files_under(d, suffix=""):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        fail("SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler under {jars}")
    return jars


def build(jars):
    """Compiles engine + benchmark into a jar once per source state."""
    for d in (ENGINE_SRC, ENGINE_RES, BENCH_SRC):
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}")
    sources = files_under(ENGINE_SRC, ".scala") + files_under(BENCH_SRC, ".scala")
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    jar = os.path.join(BUILD_DIR, f"perfbench-{h.hexdigest()[:16]}.jar")
    if os.path.isfile(jar):
        return jar
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = jar + ".tmp.jar"
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    try:
        subprocess.run(cmd, check=True, timeout=COMPILE_TIMEOUT_S,
                       stdout=sys.stderr)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        if os.path.exists(tmp):
            os.remove(tmp)
        fail(f"compile failed: {e}")
    os.rename(tmp, jar)
    return jar


def expected_metrics(trace):
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        return None
    with open(spec_path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(line, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a positive integer")
    want = expected_metrics(trace)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if want is not None and got != want:
        raise ValueError(f"metrics {sorted(got.items())} differ from BENCHMARK.json")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    jars = spark_jars()
    jar = build(jars)

    tmp = os.path.join(BUILD_DIR, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = ["java", "@" + JVM_OPTIONS, "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dlog4j2.configurationFile="
           + os.path.join(BENCH_DIR, "conf", "log4j2.properties"),
           "-cp", os.pathsep.join([jar, ENGINE_RES, os.path.join(jars, "*")]),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--trace-dir", os.path.join(BUILD_DIR, "traces")]
    try:
        proc = subprocess.run(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = proc.stdout.rstrip("\n").split("\n")
    if proc.returncode != 0:
        print("\n".join(lines))
        fail(f"benchmark exited with code {proc.returncode}", 3)
    try:
        check_result(lines[-1], a.trace == "1")
    except (ValueError, KeyError, TypeError) as e:
        print("\n".join(lines[:-1]))
        fail(f"bad result line: {e}", 4)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
