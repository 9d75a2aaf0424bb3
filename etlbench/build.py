#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (etlbench/src) with
the Scala compiler that ships in the Spark distribution the program
builds against (the jar directory build.sbt names as `unmanagedBase`,
else $SPARK_HOME/jars), packs
them with src/main/resources into .bench_build/bench.jar, and records a
class-data-sharing archive (.bench_build/bench.jsa) from a short training
run, which cuts JVM class loading in every benchmark run. Rebuilds only
when a source file changed.

    python3 etlbench/build.py        # prints the java arguments
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "bench.jar")
ARCHIVE = os.path.join(BUILD, "bench.jsa")
STAMP = os.path.join(BUILD, "bench.stamp")
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    candidates = []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        pass
    candidates.append(os.path.join(os.environ.get("SPARK_HOME", ""), "jars"))
    for d in candidates:
        if any(f.startswith("scala-compiler") and f.endswith(".jar") for f in _ls(d)):
            return d
    raise BuildError("no Spark jars directory with a Scala compiler "
                     "(build.sbt unmanagedBase, or $SPARK_HOME/jars)")


def _ls(d):
    try:
        return os.listdir(d)
    except OSError:
        return []


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found: run from the root of "
                         "a checkout of the repository (no src/main/scala)")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def java_args(tmp):
    """JVM, options and classpath of a benchmark run (main class not
    included); `tmp` is the JVM's temp dir."""
    # fixed heap and young generation: GC runs at a steady allocation
    # interval, so after-GC heap is sampled evenly through every op
    # -UsePerfData: no hsperfdata files outside the checkout
    args = ["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn128m", "-Xss4m",
            "-XX:ReservedCodeCacheSize=1g", "-Djava.io.tmpdir=" + tmp,
            # JVM warnings (class-data sharing) to stderr, not the result stream
            "-Xlog:all=warning:stderr",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        args += ["--add-opens", p + "=ALL-UNNAMED"]
    if os.path.isfile(ARCHIVE):
        args.append("-XX:SharedArchiveFile=" + ARCHIVE)
    return args + ["-cp", os.pathsep.join([JAR, os.path.join(spark_jars(), "*")])]


def ensure_built():
    """Compile, pack and train if any source changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(_ls(jars))).encode())
    digest = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print("[graftbench] compiling %d sources" % len(srcs), file=sys.stderr)
    run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
         "-classpath", os.path.join(jars, "*")] + srcs, "scalac")
    run(["jar", "-J-XX:-UsePerfData", "cf", JAR, "-C", CLASSES, "."] +
        (["-C", PROGRAM_RES, "."] if os.path.isdir(PROGRAM_RES) else []), "jar")
    shutil.rmtree(CLASSES, ignore_errors=True)
    train = os.path.join(BUILD, "work", "train-%d" % os.getpid())
    os.makedirs(os.path.join(train, "tmp"))
    try:
        run(java_args(os.path.join(train, "tmp")) +
            ["-XX:ArchiveClassesAtExit=" + ARCHIVE, "graftbench.Main",
             "--train", "--work", train], "training run")
    except BuildError:
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        raise
    finally:
        shutil.rmtree(train, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run(cmd, what):
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError("%s failed with exit code %d" % (what, r.returncode))


if __name__ == "__main__":
    try:
        ensure_built()
        print(" ".join(java_args("<tmp>")))
    except BuildError as e:
        print("[graftbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
