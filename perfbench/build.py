#!/usr/bin/env python3
"""Build file of the perfbench harness.

Compiles the repository's main Scala sources together with the harness
sources under ``perfbench/harness/src`` into ``<build>/classes`` with the
Scala compiler that ships among the Spark jars (``$SPARK_HOME/jars``, else
the jars of the installed ``pyspark`` package), so the build needs neither
sbt nor network access and writes only inside the checkout. ``<build>`` is
``$CARGO_TARGET_DIR`` when set, else ``.bench_build``. A stamp of the
sources' content hash makes a rebuild a no-op when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        return os.path.join(os.path.dirname(pyspark.__file__), "jars")
    except ImportError:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 distribution")


SPARK_JARS = spark_jars()


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def classpath():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def sources():
    srcs = []
    for base in ("src/main/scala", "perfbench/harness/src"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(srcs)


def build():
    """Compile if the sources changed; return the classes dir."""
    srcs = sources()
    if not srcs or not classpath():
        raise SystemExit("perfbench: no Scala sources or no Spark jars to build with")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", ":".join(classpath())] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
