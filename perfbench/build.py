#!/usr/bin/env python3
"""Builds the program and the benchmark harness from source.

The program (src/main/scala plus src/main/resources) and the harness
(perfbench/src) are compiled with the Scala compiler that ships in the
Spark jar directory the project's build.sbt names (or $SPARK_HOME/jars), into
jars under $CARGO_TARGET_DIR (default .bench_build) at the checkout root.
A short training run of the `analytics` workload then dumps a class-data
sharing archive of the classes it loaded, which every benchmark JVM maps
at start: it takes several seconds of class loading off each run. A stamp
of every source file's hash skips the build when nothing changed.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        sys.exit("build: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources(top, suffix=None):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files
                if suffix is None or f.endswith(suffix)]
    return sorted(out)


def scalac(jars, classpath, out, srcs, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(log)}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", out] + srcs
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"build: scalac failed ({out})")


def jar(src_dir, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sources(src_dir):
            z.write(f, os.path.relpath(f, src_dir))


def java_command(root, classpath, run_dir, workload, seed, seconds, trace,
                 out, share="use"):
    """The benchmark JVM's command line. `share` is "use" to map the
    class-data sharing archive if there is one, or "dump" to write it."""
    archive = os.path.join(build_dir(root), "classes.jsa")
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}"]
    if share == "dump":
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main", "--workload", workload,
                  "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", str(trace), "--dir", run_dir, "--out", out]


def java_env(run_dir):
    """The benchmark JVM's environment: Spark's scratch space in the run
    directory even where SPARK_LOCAL_DIRS points elsewhere."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))


def train(root, classpath):
    """Dumps the class-data sharing archive from a short analytics run.
    A failed dump only costs the speed-up."""
    run_dir = os.path.join(build_dir(root), "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd = java_command(root, classpath, run_dir, "analytics", 0, 1, 0,
                       os.path.join(run_dir, "result.json"), share="dump")
    with open(os.path.join(build_dir(root), "train.log"), "w") as f:
        try:
            subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                           cwd=run_dir, env=java_env(run_dir), timeout=400)
        except subprocess.TimeoutExpired:
            pass
    shutil.rmtree(run_dir, ignore_errors=True)


def build(root):
    """Builds if needed; returns the runtime classpath."""
    main_src = os.path.join(root, "src", "main", "scala")
    res = os.path.join(root, "src", "main", "resources")
    bench_src = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(main_src) or not os.path.isdir(bench_src):
        sys.exit("build: run from the repository root (src/main/scala and "
                 "perfbench/src must exist)")
    jars = spark_jars(root)
    out = build_dir(root)
    main_out = os.path.join(out, "classes", "main")
    bench_out = os.path.join(out, "classes", "bench")
    jar_cp = os.path.join(jars, "*")
    main_jar = os.path.join(out, "program.jar")
    bench_jar = os.path.join(out, "perfbench.jar")
    classpath = os.pathsep.join([bench_jar, main_jar, jar_cp])

    main_files = sources(main_src, ".scala")
    bench_files = sources(bench_src, ".scala")
    h = hashlib.sha256()
    for p in main_files + sources(res) + bench_files + [__file__]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath

    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    for f in (stamp, main_jar, bench_jar, os.path.join(out, "classes.jsa")):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(out, exist_ok=True)
    scalac(jars, jar_cp, main_out, main_files, os.path.join(out, "main.log"))
    if os.path.isdir(res):
        shutil.copytree(res, main_out, dirs_exist_ok=True)
    scalac(jars, os.pathsep.join([main_out, jar_cp]), bench_out, bench_files,
           os.path.join(out, "bench.log"))
    jar(main_out, main_jar)
    jar(bench_out, bench_jar)
    train(root, classpath)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build(os.getcwd()))
