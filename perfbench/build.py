"""Build file of the benchmark: compiles graft's main sources together with
the benchmark driver (`perfbench/scala`) into one class directory, with the
Scala compiler that ships among Spark's jars. No sbt: sbt's boot and
compile time never reach a measurement, and nothing is written outside
the checkout.

    python3 perfbench/build.py            # prints the class directory

The output lands in $CARGO_TARGET_DIR (default `.bench_build`) and is
rebuilt only when a source file changes.
"""

import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def _sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns the class directory."""
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        files = _sources()
        stamp = _stamp(files)
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return classes
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        args_file = os.path.join(out, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(files))
        jars = os.path.join(spark_jars(), "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", jars, "@" + args_file]
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if res.returncode != 0:
            raise SystemExit(f"build: scalac failed with code {res.returncode}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return classes


if __name__ == "__main__":
    print(build())
