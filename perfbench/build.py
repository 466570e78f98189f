"""Build file of the benchmark: compiles the program (src/main/scala)
together with the benchmark harness (perfbench/harness) with the Scala
compiler that ships in the Spark distribution, into .bench_build/.

The build is skipped when the sources are unchanged since the last one.
Run it alone with `python3 perfbench/build.py`.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark jars the sbt build compiles against (build.sbt's
    `unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'^unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read(), re.M)
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    return prog + sorted(glob.glob(os.path.join(ROOT, "perfbench/harness/*.scala")))


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classes.sha256")
    os.makedirs(BUILD, exist_ok=True)
    # one build at a time per checkout
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return classpath()
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        jars = os.path.join(spark_jars(), "*")
        cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", jars] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.replace(tmp, CLASSES)
        with open(stamp, "w") as fh:
            fh.write(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
