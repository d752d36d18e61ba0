#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

    python3 perfbench/run.py --workload <text|chado-etl> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine (src/main/scala) and the
benchmark (perfbench/src) from source with the Scala compiler that ships in
Spark's jars, once per source state, then runs one workload in one JVM and
prints its result object as the last line of standard output. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, "build")
WORK = os.path.join(HERE, "work")
TRACES = os.path.join(HERE, "out")

RUN_LIMIT_S = 170        # one run, JVM start to result, stays under 180 s
BUILD_LIMIT_S = 840      # the first run of a checkout also compiles

# Spark 4 on JDK 17 outside spark-submit (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    files = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("java not found")
    return exe


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group past limit_s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGTERM)
        try:
            p.communicate(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
        fail(f"{os.path.basename(cmd[0])} exceeded {limit_s}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(jars):
    """Compile engine + benchmark into build/<source hash>/, once."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources missing under {os.path.relpath(ENGINE_SRC, ROOT)}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "OK")):
        return out
    compiler = (glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                glob.glob(os.path.join(jars, "scala-reflect-*.jar")) +
                glob.glob(os.path.join(jars, "scala-library-*.jar")))
    if len(compiler) != 3:
        fail(f"scala compiler jars not found in {jars}")
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    rc, _ = run_bounded(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-cp", os.path.join(jars, "*"),
         "-d", classes, "@" + argfile], BUILD_LIMIT_S)
    if rc != 0:
        fail("compile failed")
    open(os.path.join(out, "OK"), "w").close()
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.0f}s",
          file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("text", "chado-etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    # a stop request still takes the JVM down with us (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    out = build(jars)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(TRACES, exist_ok=True)
    result = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    cmd = [java(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", os.pathsep.join([os.path.join(out, "classes"), os.path.join(jars, "*")]),
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", os.path.join(work, "data"), "--result", result,
        "--trace-file",
        os.path.join(TRACES, f"trace-{a.workload}-seed{a.seed}.jsonl"),
    ]
    try:
        rc, stdout = run_bounded(cmd, RUN_LIMIT_S, cwd=work, env=env,
                                 stdout=subprocess.PIPE, text=True)
        sys.stdout.write(stdout)
        if rc != 0 or not os.path.exists(result):
            fail(f"workload {a.workload} exited with code {rc}")
        with open(result) as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
