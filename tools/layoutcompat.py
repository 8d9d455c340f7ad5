#!/usr/bin/env python3
"""Layout compatibility of persisted LSH, SQ8, float-IVF, PQ and OPQ layouts.

    python3 tools/layoutcompat.py --parent HEAD

Exports the parent's committed files with `git archive` into a work
directory and compiles both sides with `perfbench/build.py`, then compiles
the driver `tools/LayoutCompat.scala` against each. The parent's classes
build an LSH, an SQ8, a float-IVF, a PQ and an OPQ layout; on two copies
of that store the same verb sequence runs once with the parent's classes
and once with this tree's: for LSH, SQ8 and float IVF open, ensure fresh
by snapshot id and by fingerprint, upsert and its replay, delete and its
replay, exists, a tombstone clash, compact, ensure rebuild, and
ensureLshUpserted / ensureIvfUpserted, rebuild and fresh; for PQ and OPQ
(no upsert, delete or compact verb) open, ensure fresh by snapshot id and
by fingerprint, opqExists and an ensure that rebuilds at a new point.
After each verb `LayoutCompat` prints the Spark jobs it ran, the layout's
meta map and the answers of a fixed query batch.

Prints the jobs per verb of both sides and exits 0 when the two outputs are
identical, else prints their unified diff and exits 1. No benchmark
workload runs LSH, float IVF, PQ or OPQ, so this is the end-to-end check
for a change to their store verbs or to the shared codec lifecycles. `--keep
DIR` works in DIR and keeps it (stores, outputs); by default a temporary
directory is removed afterwards.
"""

import argparse
import difflib
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # no stray files under perfbench/
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import build  # noqa: E402
from run import JDK_OPENS  # noqa: E402
from perfpairs import export_ref  # noqa: E402

DRIVER = os.path.join(ROOT, "tools", "LayoutCompat.scala")
MAIN = "org.apache.spark.graftcompat.LayoutCompat"
TAGS = ("JOBS", "META", "ANS", "EXISTS", "CLASH")


def compile_driver(classes, out):
    os.makedirs(out, exist_ok=True)
    jars = os.path.join(build.spark_jars(ROOT), "*")
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", jars,
                    "scala.tools.nsc.Main", "-usejavacp", "-classpath",
                    classes, "-nowarn", "-d", out, DRIVER], check=True)


def drive(classes, driver, mode, store, data):
    """The driver's report lines for one mode over `store`."""
    cmd = ["java", "-Xmx2g", "-Xss8m", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([driver, build.classpath(ROOT, classes)]),
            MAIN, mode, store, data]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise RuntimeError(f"{mode} failed ({p.returncode}):\n"
                           f"{p.stderr[-3000:]}")
    return report_lines(p.stdout, store)


def report_lines(stdout, store):
    """The tagged lines of a driver's stdout, its store dir made neutral."""
    return [line.replace(store, "<store>") for line in stdout.splitlines()
            if line.split(" ", 1)[0] in TAGS]


def jobs_table(parent, change):
    rows = {}
    for side, lines in (("parent", parent), ("change", change)):
        for line in lines:
            if line.startswith("JOBS "):
                _, verb, n = line.split()
                rows.setdefault(verb, {})[side] = n
    return [f"{verb:32s} {r.get('parent', '-'):>6s} {r.get('change', '-'):>6s}"
            for verb, r in rows.items()]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--keep", help="work directory to use and keep")
    args = ap.parse_args(argv)
    work = args.keep or tempfile.mkdtemp(prefix="layoutcompat-")
    os.makedirs(work, exist_ok=True)
    try:
        proot = os.path.join(work, "parent")
        shutil.rmtree(proot, ignore_errors=True)
        os.makedirs(proot)
        export_ref(args.parent, proot)
        sides = {
            "parent": build.build(proot, os.path.join(proot, ".bench_build"))[0],
            "change": build.build(ROOT, os.path.join(ROOT, ".bench_build"))[0],
        }
        drivers = {}
        for side, classes in sides.items():
            drivers[side] = os.path.join(work, f"driver_{side}")
            shutil.rmtree(drivers[side], ignore_errors=True)
            compile_driver(classes, drivers[side])
        data = os.path.join(work, "data")
        built = os.path.join(work, "built")
        shutil.rmtree(built, ignore_errors=True)
        print("\n".join(drive(sides["parent"], drivers["parent"], "build",
                              built, data)))
        out = {}
        for side in ("parent", "change"):
            store = os.path.join(work, f"store_{side}")
            shutil.rmtree(store, ignore_errors=True)
            shutil.copytree(built, store)
            out[side] = drive(sides[side], drivers[side], "ops", store, data)
        print(f"{'verb':32s} {'parent':>6s} {'change':>6s}  (Spark jobs)")
        print("\n".join(jobs_table(out["parent"], out["change"])))
        diff = list(difflib.unified_diff(out["parent"], out["change"],
                                         "parent", "change", lineterm=""))
        if diff:
            print("\n".join(diff))
            return 1
        print(f"identical: {len(out['change'])} report lines "
              "(jobs, meta maps and answers per verb)")
        return 0
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
