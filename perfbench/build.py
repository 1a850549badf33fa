"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's Scala sources into `perfbench/.build/classes`, with
the Scala compiler that ships among the Spark jars. The build is skipped
when no source changed since the last one.

    python3 perfbench/build.py      # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the repo build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and glob.glob(os.path.join(m.group(1), "spark-sql_*.jar")):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"build: no graft sources under {main}")
    return found + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Returns the classpath to run the benchmark with."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    # -UsePerfData keeps the JVM's perf-data file out of the system temp dir
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit(f"build: scalac failed ({proc.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build())
