"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jars, into .bench_build/classes under the checkout root.

A stamp holding the hash of every compiled source skips the compile when
nothing changed. Run directly (`python3 perfbench/build.py`) or through
run.py, which builds on first use.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("SPARK_HOME must point at a Spark install with jars/")
    return os.path.join(home, "jars", "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the classpath the benchmark JVM runs with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, ".stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(OUT)
        rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars,
                             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                             "-d", OUT] + srcs, stdout=sys.stderr).returncode
        if rc != 0:
            raise SystemExit(f"compile failed (exit {rc})")
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return OUT + os.pathsep + jars


def source_hash():
    """Hash of the compiled sources, recorded with each run."""
    stamp = os.path.join(OUT, ".stamp")
    return open(stamp).read() if os.path.exists(stamp) else None


if __name__ == "__main__":
    print(build())
