#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the Scala harness together with graft's sources (scalac, only when
a source changed), then runs one workload in a fresh JVM with a fixed heap on
local[nproc]. Each run gets a fresh scratch root, model store and Spark
local dir under perfbench/target/runs/, removed when the run ends. The
JVM's report lines are passed through; the last stdout line is the JSON
result. A traced run also writes its spans to perfbench/out/.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-build.stamp")
WORKLOADS = ["scanpy_recipe", "zarr_store", "corpus_curate"]
HEAP = "2g"
# the JVM's own kill limit is --seconds plus this: boot, warm-up and teardown
RUN_SLACK_S = 120
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when a session is built outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: graft's main tree, the harness, the build file."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The jar directory graft's build.sbt links against (its unmanagedBase),
    else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {d!r}")
    return jars


def build(java):
    """Compile graft's main sources and the harness into perfbench/target/classes
    when a source changed; return the runtime classpath.

    The compiler is the scala-compiler jar that ships with Spark, run as a
    plain JVM, so the build reads the checkout and the Spark jars and writes
    only under perfbench/target (an sbt build would also write to the user's
    sbt and coursier directories)."""
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"graft's sources ({f}) are not beside perfbench/")
    jars = spark_jars()
    classes = os.path.join(TARGET, "classes")
    classpath = os.pathsep.join([classes] + jars)
    want = stamp()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return classpath
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail("the Spark jars hold no scala-compiler/-library/-reflect to build with")
    srcs = [f for f in sources() if f.endswith(".scala")]
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(TARGET, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(tmp, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + srcs) + "\n")
    cmd = [java, "-Xss16m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except FileNotFoundError:
        fail(f"{java} not found")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        fail(f"build failed (scalac exit {p.returncode})")
    # resources (the zarr DataSourceRegister entry) sit beside the classes
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    classpath = build(java)
    run_dir = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "scratch", "models", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    # C1 only: with the full tiered JIT, Spark's and graft's code keeps being
    # recompiled for minutes (pass times fall 2x over a 50 s run), so a short
    # run would time the JIT's progress; C1 reaches its steady state within
    # the warm-up
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--run-dir", run_dir]
    if a.trace:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        cmd += ["--trace-out", os.path.join(out, f"trace-{a.workload}-{a.seed}.json")]
    env = dict(os.environ)
    env["SPARK_GRAFT_TMP"] = os.path.join(run_dir, "scratch")
    env["SPARK_GRAFT_MODELS_DIR"] = os.path.join(run_dir, "models")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(a.seconds + RUN_SLACK_S, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if code < 0:
        fail(f"run killed (signal {-code}; limit {a.seconds + RUN_SLACK_S:.0f} s)")
    sys.exit(code)


if __name__ == "__main__":
    main()
