"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repo root) and the
benchmark's own sources (`perfbench/src`) with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars, else a pip-installed pyspark's
jars), into
`.bench_build/perfbench/classes`. A stamp holding the hash of every source
file skips the compile when nothing changed.

Run on its own: `python3 perfbench/build.py` from the repo root.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:  # fall back to the jars a pip-installed pyspark ships
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        home = os.path.dirname(spec.origin) if spec and spec.origin else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found under {jars}; set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if any source changed; return the runtime classpath."""
    jars = spark_jars()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return cp


if __name__ == "__main__":
    print(build())
