#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) into one class directory with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, or that of a Spark
installation on the PATH).

    python3 perfbench/build.py     # prints the jar and the archive

The output lands in $CARGO_TARGET_DIR (default .bench_build) under a key made
from the sources, so an unchanged tree is compiled once: bench.jar, plus
app.jsa, a class-data-sharing archive recorded by one short training JVM
(perfbench.CdsTrain) that cuts the Spark session start of every run. Session
start counts in setup_s, so a failed training fails the build rather than
leave the archive out.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark installation on the
    PATH that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(j.startswith("scala-compiler") for j in os.listdir(jars)):
            return jars
    raise SystemExit("build: no Spark jars directory with a Scala compiler; set SPARK_HOME")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(ROOT, d)
        if not os.path.isdir(base):
            raise SystemExit(f"build: source directory {d} is missing")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not out:
        raise SystemExit("build: no Scala sources")
    return sorted(out)


def java_opens():
    """JDK 17 module opens Spark needs outside spark-submit (as build.sbt)."""
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build():
    """Compile if needed; return (bench.jar, app.jsa)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir(), "perfbench", key)
    jar = os.path.join(out, "bench.jar")
    jsa = os.path.join(out, "app.jsa")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        cp = os.pathsep.join(
            os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
        argfile = os.path.join(out, "sources.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", classes,
               "@" + argfile]
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
            raise SystemExit("build: scalac failed")
        os.unlink(argfile)
        # class-data sharing maps classes from jars only
        subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
        shutil.rmtree(classes)
        scratch = os.path.join(out, "train")
        os.makedirs(os.path.join(scratch, "tmp"))
        train = subprocess.run(
            ["java", *java_opens(), f"-XX:ArchiveClassesAtExit={jsa}", "-Xmx2g",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp",
             f"-Dlog4j2.configurationFile={ROOT}/perfbench/log4j2.properties",
             "-cp", os.pathsep.join([jar, os.path.join(jars, "*")]),
             "perfbench.CdsTrain", os.path.join(ROOT, "perfbench", "data"), scratch],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        shutil.rmtree(scratch, ignore_errors=True)
        if train.returncode != 0 or not os.path.exists(jsa):
            sys.stderr.write(train.stdout[-4000:])
            raise SystemExit("build: recording the class-data-sharing archive failed")
        open(os.path.join(out, "ok"), "w").close()
        # a tree keeps one build: drop those of earlier sources
        for old in os.listdir(os.path.dirname(out)):
            if len(old) == 16 and old != key:
                shutil.rmtree(os.path.join(os.path.dirname(out), old), ignore_errors=True)
    return jar, jsa


if __name__ == "__main__":
    print(*build())
