"""Build file of the benchmark package.

Compiles graft's own sources (src/main/scala) into
<root>/.bench_build/graft-<hash>, then the benchmark's (perfbench/src)
against them into <root>/.bench_build/bench-<hash>, with the Scala
compiler that ships among the jars of the Spark installation at
$SPARK_HOME, so no build tool has to resolve anything.  The hash covers
a stage's inputs; a stage whose output directory exists is skipped.

    python3 perfbench/build.py        # builds, prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
SPARK_HOME = os.environ.get("SPARK_HOME", "")
if not os.path.isdir(os.path.join(SPARK_HOME, "jars")):
    raise SystemExit("build: SPARK_HOME must name a Spark installation")
SPARK_JARS = os.path.join(SPARK_HOME, "jars", "*")


def _compile(name, src_dir, classpath, salt):
    """Compile the .scala files under src_dir into OUT/<name>-<stamp>,
    where the stamp hashes their contents (and `salt`), unless that
    directory exists; return it and the stamp.  Outputs of other
    source versions are kept, so runs that alternate between two
    versions in one checkout compile each only once."""
    if not os.path.isdir(src_dir):
        raise SystemExit(f"build: missing source directory {src_dir}")
    srcs = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))
    h = hashlib.sha256(salt.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, f"{name}-{stamp[:16]}")
    if os.path.isdir(classes):
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit(f"build: scalac failed on {src_dir}")
    os.rename(tmp, classes)
    return classes, stamp


def build():
    """Compile what changed; return the classpath of graft plus the
    benchmark."""
    graft, stamp = _compile("graft", os.path.join(ROOT, "src", "main", "scala"), SPARK_JARS, "")
    bench, _ = _compile("bench", os.path.join(BENCH, "src"), f"{graft}:{SPARK_JARS}", stamp)
    return f"{bench}:{graft}:{SPARK_JARS}"


if __name__ == "__main__":
    print(build())
