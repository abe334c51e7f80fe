#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 17 --trace 0

Run it from the root of a checkout. The first run compiles the engine and
the benchmark from source with scalac into .bench_build/ in the checkout;
later runs reuse the build while the sources are unchanged. Results, spans
and per-op counters go to .bench_out/ in the checkout.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("spatial", "corpus_pipeline")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 175
# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def jar_dir(root):
    """The directory of jars the engine compiles and runs against: the root
    build's unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read(), re.M)
    if m:
        d = m.group(1)
        return d if os.path.isabs(d) else os.path.join(root, d)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def scala_files(top):
    return [os.path.join(d, f) for d, _, fs in sorted(os.walk(top)) for f in sorted(fs)
            if f.endswith(".scala")]


def source_stamp(root, jars):
    """Hash of the jar directory and every build input's path, size and mtime."""
    h = hashlib.sha256(jars.encode())
    inputs = [os.path.join(root, "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the engine's and the benchmark's sources with scalac and
    return the runtime classpath.

    The Scala compiler is the one among the engine's jars, so a build reads
    only the checkout and that jar directory, writes only under build_dir,
    and needs no sbt, dependency cache or network.
    """
    jars = jar_dir(root)
    def jar(prefix):
        hits = sorted(glob.glob(os.path.join(jars, prefix + "-[0-9]*.jar")))
        if not hits:
            fail(f"no {prefix} jar in {jars}", 1)
        return hits[-1]
    classes = os.path.join(build_dir, "classes")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    stamp_file = os.path.join(build_dir, "stamp.txt")
    stamp = source_stamp(root, jars)
    if os.path.isfile(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp
    shutil.rmtree(build_dir, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp)
    sources = scala_files(os.path.join(root, "src", "main", "scala")) + \
        scala_files(os.path.join(HERE, "src", "main", "scala"))
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = os.pathsep.join(jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler, "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", classes, "@" + args_file]
    log_path = os.path.join(build_dir, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})", 1)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"build failed (exit {proc.returncode}, log: {log_path})", 1)
    # the engine's resources (data source registration, logging config)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    # a SIGTERM unwinds like an exception, so no child outlives this process
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny: small inputs, for the self-test")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout: no build.sbt or src/main/scala here")
    if os.path.abspath(os.path.join(HERE, "..")) != os.path.abspath(root):
        fail("perfbench/ must sit at the root of the checkout it measures")

    build_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, build_dir)
    out_dir = os.path.join(root, ".bench_out")
    tmp_dir = os.path.join(out_dir, "jvm-tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-Xms2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--size", args.size, "--out", out_dir]
    # Spark binds to the loopback address whatever the host's name resolves to
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        # on every way out, the JVM has ended before this process does
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark process exited {proc.returncode} without a result", 1)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
