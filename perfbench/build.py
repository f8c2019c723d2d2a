"""Build file of the benchmark: compiles the engine (src/main) and the
harness (perfbench/src) into one class directory with the Scala compiler
that ships in Spark's jars directory.

    python3 perfbench/build.py [build_dir]

The build is skipped when the sources have not changed since the last one
(a digest of every source file is kept next to the classes).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
# Spark 4.x on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    except ImportError:
        pass
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def scala_files():
    files = []
    for d in SOURCES:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(build_dir):
    return os.pathsep.join([os.path.join(build_dir, "classes"), RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build(build_dir):
    """Compile if needed; returns the classpath to run the harness with."""
    if not os.path.isdir(SOURCES[0]):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    files = scala_files()
    stamp = os.path.join(build_dir, "classes.sha256")
    want = digest(files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classpath(build_dir)
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", classes, "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp, "w") as fh:
        fh.write(want)
    return classpath(build_dir)


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(out))
