#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM side (winbench/src) with the Scala compiler that ships in
Spark's jars directory, into <target>/winbench/classes.

<target> is $CARGO_TARGET_DIR, or .bench_build when that is unset. The build
is skipped when a digest of every source file matches the last build.

Usage: python3 winbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one the installed
    pyspark package ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = "."
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"winbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"winbench: program sources not found under {main}")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return found


def build(root):
    """Returns the classes directory, compiling first when sources changed."""
    srcs = sources(root)
    jars = spark_jars()
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(root, target, "winbench")
    classes = os.path.join(out, "classes")
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp, "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-20000:])
        raise SystemExit("winbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
