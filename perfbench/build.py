#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
benchmark harness (perfbench/src) into .bench_build/classes-<hash>/, using
the Scala compiler that ships in the Spark distribution's jars. A build whose
source hash already exists is reused.

    python3 perfbench/build.py        # prints the classes directory

The Spark jars come from $SPARK_HOME, else from the distribution whose
spark-submit is on PATH, else from the pyspark package.
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    pyspark = importlib.util.find_spec("pyspark")
    if pyspark and pyspark.origin:
        homes.append(os.path.dirname(pyspark.origin))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark jars found; set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        raise RuntimeError(f"program sources not found under {ROOT}/src/main/scala")
    if not bench:
        raise RuntimeError("benchmark sources not found under perfbench/src")
    return main + bench


def build():
    """Returns the classes directory, compiling first when needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compilation failed:\n" + res.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
