#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships in Spark's jar directory, into
.bench_build/classes under the repository root, then into
.bench_build/perfbench.jar.

The build is skipped when a stamp of every source file, the compiler
options and the jar directory listing is unchanged.

Usage, from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SCALAC_OPTS = ["-encoding", "UTF-8", "-nowarn"]


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.isfile(exe) else "java"


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, root)}")
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def class_archive(root):
    """The JVM class-data archive of the current build (see run.py)."""
    return os.path.join(root, ".bench_build", "classes.jsa")


def build(root):
    """Compile if needed; returns the jar of the compiled classes (a jar,
    not a directory, so the JVM's class-data archive can hold them)."""
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "perfbench.jar")
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    h.update(repr((SCALAC_OPTS, sorted(os.listdir(jars)))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(jar) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return jar
    shutil.rmtree(classes, ignore_errors=True)
    for stale in (jar, class_archive(root)):
        if os.path.exists(stale):
            os.remove(stale)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-d", classes, "-classpath", cp, "-Ybackend-parallelism", "4",
           *SCALAC_OPTS, "@" + args_file]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({res.returncode})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dp, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(dp, f)
                z.write(p, os.path.relpath(p, classes))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
