"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution's jars, into `.bench_build/classes`.

A build is skipped when a stamp of every source file's path and contents
matches the last successful build. Run it alone with

    python3 perfbench/build.py
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_TIMEOUT_S = 800


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/scala"):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise FileNotFoundError(f"missing source directory {top}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars the repository's own build compiles against: the
    `unmanagedBase` of build.sbt, else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise FileNotFoundError("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def classpath(root, classes):
    return f"{classes}{os.pathsep}{os.path.join(spark_jars(root), '*')}"


def build(root, build_dir, log=sys.stderr):
    """Returns (classes directory, whether it compiled), compiling only
    when the sources changed."""
    files = sources(root)
    os.makedirs(build_dir, exist_ok=True)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    want = stamp(root, files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes, False
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise FileNotFoundError(f"Spark jars not found at {jars}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=" + build_dir,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", classes, "-nowarn", "-d", classes,
           "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise RuntimeError("compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes, True


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    print(build(root, os.path.join(root, ".bench_build"))[0])
