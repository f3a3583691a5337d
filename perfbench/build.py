"""Build file of the benchmark: compile graft and the runner from source.

graft's own sources (``src/main/scala``) and the runner's
(``perfbench/scala``) are compiled together by the Scala compiler that
ships with Spark, with no build tool and no dependency resolution, and
packed into ``.bench_build/<digest>/perfbench.jar``, keyed by a digest of
every source file, so an unchanged tree is built once per checkout.

Usage: python3 perfbench/build.py   (from the root of the repository)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        sys.exit("perfbench: set SPARK_HOME (no Spark distribution found)")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/scala"):
        found += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root):
    """Return the jar for the current sources, compiling if needed."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise FileNotFoundError("no graft sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, BUILD_DIR, h.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    if os.path.exists(jar):
        return jar
    classes = os.path.join(out, "classes-%d" % os.getpid())
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + classes,
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.stderr.write(res.stdout[-4000:])
        raise RuntimeError("compilation failed")
    tmp = jar + ".tmp-%d" % os.getpid()
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    os.replace(tmp, jar)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
