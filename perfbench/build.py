#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program under test
(`src/main/scala`) together with the benchmark's own code (`perfbench/src`)
into `.bench_build/classes` with the Scala compiler that ships with Spark.

    python3 perfbench/build.py      # from the repository root

Prints the runtime classpath on stdout. A build is skipped when a stamp of
every source file's content matches the last successful build. Exits
non-zero when the sources or the toolchain are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classpath):
    """The JVM command line that runs a main class of the build."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    log4j = os.path.join(ROOT, "perfbench", "log4j2.properties")
    return ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dlog4j2.configurationFile=" + log4j,
            *opens, "-cp", classpath]


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            sys.exit(f"build: source directory {d} is missing")
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classpath = f"{CLASSES}:{jars}/*"
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    compiler = ":".join(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                        glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                        glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
           "-d", staging, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
