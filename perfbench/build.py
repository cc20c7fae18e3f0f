"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and then the benchmark harness
(`perfbench/harness`) with the Scala compiler that ships in the Spark
distribution's jars, into `.bench_build/` at the root of the checkout.
A build is skipped when a stamp of the sources' contents matches.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")

# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt lists the same).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _read(path):
    with open(path) as fh:
        return fh.read()


def _compile(name, sources, classpath):
    dest = os.path.join(OUT, name)
    stamp_file = os.path.join(OUT, name + ".stamp")
    # A dependency's stamp is part of ours, so a rebuilt program rebuilds the harness.
    stamp = _stamp(sources) + "".join(":" + _read(c + ".stamp") for c in classpath)
    if os.path.exists(stamp_file) and _read(stamp_file) == stamp:
        return dest
    if not sources:
        raise SystemExit(f"build: no sources for {name}")
    if os.path.isdir(dest):
        subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    cp = ":".join(classpath + [os.path.join(SPARK_JARS, "*")])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", dest] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return dest


def build():
    """Compiles what changed and returns the runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    program = _compile("program", _sources(os.path.join(ROOT, "src", "main", "scala")), [])
    harness = _compile("harness", _sources(os.path.join(HERE, "harness")), [program])
    return [harness, program, os.path.join(SPARK_JARS, "*")]


if __name__ == "__main__":
    print(":".join(build()))
