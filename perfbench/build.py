#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) into
<build dir>/classes-<hash>.jar, where the hash covers every input source.

Usage: python3 perfbench/build.py   (from the repository root)

Uses the Scala compiler that ships with the Spark distribution, so the
build needs no dependency resolution and writes only under the build dir.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the repository's
    own build compiles against (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        sys.exit("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return prog + bench


def ensure():
    """Return the program+harness jar, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    jar = out + ".jar"
    if os.path.exists(jar):
        return jar
    for stale in glob.glob(os.path.join(build_dir(), "classes-*")):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
        else:
            os.remove(stale)
    os.makedirs(out)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"compile failed ({r.returncode})")
    # a jar, not a directory: class-data sharing archives only jar entries
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(out):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), out))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out)
    return jar


if __name__ == "__main__":
    print(ensure())
