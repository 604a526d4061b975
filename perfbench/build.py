"""Build file of the benchmark package.

Compiles the program (`src/main/scala` at the repository root) together
with the benchmark's JVM half (`perfbench/scala`) into
`.bench_build/classes`, with the Scala compiler that ships among the
Spark jars the program's own build uses (`$SPARK_HOME/jars`, else the
`unmanagedBase` named in the root `build.sbt`). A stamp of the sources
and the jar list skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classpath to run with
"""
import fcntl
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build: no Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("build: program sources not found under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                                   recursive=True))


def ensure():
    """Compiles if needed; returns the runtime classpath. Concurrent runs
    in one checkout wait for each other's compile."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _ensure()


def _ensure():
    jars = spark_jars()
    jar_list = sorted(glob.glob(os.path.join(jars, "*.jar")))
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jar_list).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    compiler = [j for j in jar_list if re.search(
        r"/scala-(compiler|library|reflect)-2\.13\.[0-9]+\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit("build: scala 2.13 compiler jars not found among the Spark jars")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jar_list),
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(ensure())
