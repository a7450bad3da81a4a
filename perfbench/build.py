"""Build file of the benchmark: compiles the program and the benchmark from source.

The program's sources (src/main/scala and src/main/resources at the root of
the checkout) and the benchmark's (perfbench/src) compile together, with
scalac, into one class directory. The Scala compiler and every library come
from the Spark distribution ($SPARK_HOME, or the one whose spark-submit is on
PATH), the jars the program's own sbt build compiles against. A build is
keyed by a hash of all sources and skipped when a finished build with the
same key exists.

    python3 perfbench/build.py     # builds into perfbench/.work/build/<key>
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def build_key():
    h = hashlib.sha256()
    for f in _files(PROGRAM_SRC, ".scala") + _files(PROGRAM_RES) + _files(BENCH_SRC, ".scala"):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Returns (class directory, build key), compiling first when needed."""
    key = build_key()
    out = os.path.join(WORK, "build", key)
    if os.path.exists(os.path.join(out, ".done")):
        return out, key
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    os.makedirs(out)
    sources = _files(PROGRAM_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    args_file = os.path.join(out, ".sources")
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "@" + args_file]
    print("[perfbench] compiling %d sources" % len(sources), file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    for f in _files(PROGRAM_RES):
        dst = os.path.join(out, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, ".done"), "w").close()
    return out, key


if __name__ == "__main__":
    print(build()[0])
