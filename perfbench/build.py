#!/usr/bin/env python3
"""Builds the benchmark: compiles graft's sources (src/main/scala) together
with the benchmark's own (perfbench/src) into one class directory, with the
Scala compiler and libraries that ship in Spark's jars directory.

Usage: python3 perfbench/build.py          (from the root of a checkout)

The output goes to .bench_build/perfbench: the classes packed in app.jar.
A stamp holding the hash of every source file makes an unchanged tree skip
the build."""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    if not os.path.isdir(roots[0]):
        sys.exit(f"build: graft sources missing ({roots[0]})")
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(jar, jars, work):
    """The JVM command line every benchmark JVM runs with."""
    return (["java", f"-Xmx{HEAP}", "-Xss4m"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
            + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", jar + os.pathsep + os.path.join(jars, "*"), "graftbench.Main"])


def build():
    """Builds if needed; returns (app jar, Spark jars dir, tree hash)."""
    jars = spark_jars()
    files = sources()
    digest = tree_hash(files)
    jar = os.path.join(OUT, "app.jar")
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.isfile(jar) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return jar, jars, digest
    for f in (stamp, jar):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + files
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        sys.exit("build: scalac failed")
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
    shutil.rmtree(classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar, jars, digest


if __name__ == "__main__":
    build()
