"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into <build dir>/classes. A stamp of every source
file's path and content skips the compile when nothing changed.

    python3 perfbench/build.py            # build from the repository root
"""

import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: java not found")
    return exe


def build_dir(root):
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(root, base, "perfbench")


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        d = os.path.join(root, top)
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {top}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if needed; return the runtime classpath entries."""
    srcs = sources(root)
    bdir = build_dir(root)
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "stamp")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    jars = spark_jars()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(bdir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(f'"{s}"' for s in srcs))
        cp = os.path.join(jars, "*")
        cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-cp", cp, "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [classes, os.path.join(root, "src/main/resources"), os.path.join(jars, "*")]


if __name__ == "__main__":
    build(os.getcwd())
