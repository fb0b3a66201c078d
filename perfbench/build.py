"""Compiles the program (src/main/scala) and the benchmark driver
(perfbench/src) into one class directory with the Scala compiler that
ships with Spark. Skipped when the sources have not changed since the
last build.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".perfbench", "build")
CLASSES = os.path.join(BUILD_DIR, "classes")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"),
                os.path.join("perfbench", "src")]


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else beside a spark-submit on the
    PATH (the first one that has them)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(
                os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    sys.exit("perfbench: no Spark jars found; set SPARK_HOME")


def sources():
    found = []
    for root in SOURCE_ROOTS:
        found += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    """Returns the class directory, compiling first when needed."""
    srcs = sources()
    if not any(s.startswith(SOURCE_ROOTS[0]) for s in srcs):
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the repository root")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD_DIR, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return CLASSES
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    # the compiler jars ship in Spark's jars directory
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        sys.exit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
