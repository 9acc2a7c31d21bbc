"""Build file of the benchmark package: compiles the engine
(`src/main/scala`) together with the benchmark driver (`perfbench/scala`)
with the Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes` under the checkout root. A content hash of every
source skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA_VERSION = "2.13.17"


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "scala")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Compile if any source changed; return the classes directory."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("engine sources not found under src/main/scala")
    h = hashlib.sha256()
    for p in srcs + jars():
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, f"{n}-{SCALA_VERSION}.jar")
                               for n in ("scala-compiler", "scala-library",
                                         "scala-reflect"))
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", CLASSES, "-classpath",
                           os.pathsep.join(jars())] + srcs) + "\n")
    done = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                           "-cp", compiler, "scala.tools.nsc.Main", "@" + args],
                          stdout=sys.stderr)
    if done.returncode != 0:
        raise SystemExit("compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
