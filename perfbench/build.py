"""Build file of the benchmark package: compiles the program's sources
(``src/main/scala``) together with the harness (``perfbench/harness``) using
the Scala compiler that ships in Spark's own jar directory, so no build tool
or network is needed. Output goes to ``perfbench/out/build/<hash>/`` keyed by
the content of every source, and is reused while the sources are unchanged.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """``$SPARK_HOME/jars``, else the jars of an installed ``pyspark``."""
    homes = [os.environ.get("SPARK_HOME")]
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jars with a Scala compiler found; set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def source_id(paths):
    """Content hash of the given files (the record's origin when the
    checkout is not a git repository)."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure():
    """Compile if needed; returns (classes dir, source id)."""
    srcs = sources()
    resources = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/*")))
    sid = source_id(srcs + resources)
    out = os.path.join(HERE, "out", "build", sid)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, sid
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    args = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
            "-d", classes, "-classpath", cp, "-nowarn",
            "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + srcs
    r = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")
    for f in resources:
        shutil.copy(f, classes)
    open(os.path.join(out, "ok"), "w").close()
    for old in glob.glob(os.path.join(HERE, "out", "build", "*")):
        if old != out:  # builds of other source versions
            shutil.rmtree(old, ignore_errors=True)
    return classes, sid


if __name__ == "__main__":
    print(ensure()[0])
