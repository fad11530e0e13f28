#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark harness (perfbench/harness) into one class directory, using the
Scala compiler that ships in Spark's jar directory, then javac for the Java
sources. No sbt, no network. The build is skipped when the recorded hash of
every source file still matches.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jars bundled with the pyspark package."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        import pyspark
    except ImportError:
        sys.exit("no Spark installation: set SPARK_HOME")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


SPARK_JARS = spark_jars()


def sources():
    found = []
    for top in ("src/main/scala", "src/main/java", "src/main/resources",
                "perfbench/harness"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            found += [os.path.join(d, f) for f in files]
    return sorted(found)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        sys.exit(f"no Spark jars under {SPARK_JARS}")
    return jars


def build():
    srcs = sources()
    scala = [s for s in srcs if s.endswith(".scala")]
    java = [s for s in srcs if s.endswith(".java")]
    if not any("/src/main/scala/" in s for s in scala):
        sys.exit(f"no engine sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for s in [__file__] + srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "classes.sha256")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = ":".join(spark_classpath())
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
         "-d", CLASSES, "-classpath", cp] + scala + java, check=True)
    if java:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-encoding", "UTF-8",
                        "-nowarn", "-d", CLASSES, "-cp", CLASSES + ":" + cp]
                       + java, check=True)
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
