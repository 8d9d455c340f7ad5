#!/usr/bin/env python3
"""Paired benchmark runs of the working tree against a parent commit.

    python3 tools/perfpairs.py --parent HEAD~1 --workload ingest --seeds 1-10

For every seed it runs `perfbench/run.py --trace 0` once on the parent's
committed files and once on this tree, alternating which side runs first, and
reads each run's JSON result (the last line of its stdout). For every
end-to-end metric that BENCHMARK.json declares it then prints each
side's median and quartiles, how many pairs the change won and lost
(ties count for neither) and a verdict:

- "improved": the change won at least 9 of every 10 pairs and its median
  is better than the parent's by more than the parent's interquartile
  range;
- "worse": the same rule with the sides swapped, or the change's median
  is worse than the parent's by more than the metric's relative bound;
- "unresolved": anything else.

Every run lasts BENCHMARK.json's `run_seconds`. Both sides run from
sibling temporary directories that are removed afterwards, so that both
build, write and read on the same filesystem: the parent's committed
files are exported with `git archive` (the same files the benchmark
compares, with no checkout registered in this repository), and the
change side is a copy of this tree's files as they are now: the tracked
and the untracked-but-not-ignored ones, uncommitted edits included,
`.bench_build/` left out. Both sides build their own `.bench_build/` on
the first run. `--out FILE` also writes every run and every verdict as
JSON.

`--layers SEED` adds, after a workload's pairs, one `--trace 1` run per side
at SEED and prints every per-layer metric BENCHMARK.json declares side by
side with the change's difference (one traced run each: counts are exact,
times are a single sample).
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text):
    """'1-4,9' -> [1, 2, 3, 4, 9]"""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs):
    """(q1, median, q3) of a non-empty sample, inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Compare paired samples (parent[i] and change[i] ran at one seed).

    `better` is "lower" or "higher"; `bound` is the largest relative
    regression of the median the benchmark tolerates.
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("need equally many parent and change runs")
    sign = 1.0 if better == "lower" else -1.0
    # gain > 0 means the change is better
    gains = [sign * (p - c) for p, c in zip(parent, change)]
    wins = sum(1 for g in gains if g > 0)
    losses = sum(1 for g in gains if g < 0)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    iqr = pq3 - pq1
    gap = sign * (pmed - cmed)
    n = len(parent)
    out_of_bound = pmed != 0 and -gap > bound * abs(pmed)
    if 10 * wins >= 9 * n and gap > iqr:
        v = "improved"
    elif (10 * losses >= 9 * n and -gap > iqr) or out_of_bound:
        v = "worse"
    else:
        v = "unresolved"
    return {
        "pairs": n, "wins": wins, "losses": losses,
        "parent": {"q1": pq1, "median": pmed, "q3": pq3},
        "change": {"q1": cq1, "median": cmed, "q3": cq3},
        "parent_iqr": iqr, "median_gain": gap,
        "within_bound": not out_of_bound, "verdict": v,
    }


def run_once(cwd, workload, seed, seconds, trace=0):
    """One benchmark run in `cwd`: its parsed JSON result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} in {cwd} failed "
                           f"({p.returncode}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def load_benchmark(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def export_ref(ref, dest):
    """Write the committed files of `ref` into the directory `dest`."""
    archive = subprocess.Popen(["git", "archive", "--format=tar", ref],
                               cwd=ROOT, stdout=subprocess.PIPE)
    untar = subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout)
    archive.stdout.close()
    if archive.wait() != 0 or untar.returncode != 0:
        raise RuntimeError(f"could not export {ref} into {dest}")


def export_worktree(dest, root=ROOT):
    """Copy the files of the tree at `root` as they are now into `dest`:
    tracked (with uncommitted edits) and untracked-but-not-ignored ones,
    never `.bench_build/`; a tracked file deleted from the tree is left
    out.
    """
    out = subprocess.run(["git", "ls-files", "-z", "--cached", "--others",
                          "--exclude-standard"], cwd=root,
                         capture_output=True, check=True).stdout
    for rel in sorted(set(out.decode().split("\0")) - {""}):
        src = os.path.join(root, rel)
        if rel.split("/")[0] == ".bench_build" or not os.path.isfile(src):
            continue
        target = os.path.join(dest, rel)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copy2(src, target)


def fmt(x):
    return f"{x:.4g}"


def report(workload, runs, metrics):
    """Print one workload's table; return its verdicts."""
    print(f"\n## {workload}: {len(runs)} pairs "
          f"(failed ops parent {sum(r['parent']['failed'] for r in runs)}, "
          f"change {sum(r['change']['failed'] for r in runs)})")
    print("| metric | parent median [q1, q3] | change median [q1, q3] "
          "| wins/losses | verdict |")
    print("|---|---|---|---|---|")
    verdicts = {}
    for m in metrics:
        name = m["name"]
        par = [r["parent"]["metrics"][name]["value"] for r in runs]
        chg = [r["change"]["metrics"][name]["value"] for r in runs]
        v = verdict(par, chg, m["better"], m["bound"])
        verdicts[name] = v
        p, c = v["parent"], v["change"]
        print(f"| {name} ({m['unit']}) | {fmt(p['median'])} "
              f"[{fmt(p['q1'])}, {fmt(p['q3'])}] | {fmt(c['median'])} "
              f"[{fmt(c['q1'])}, {fmt(c['q3'])}] | "
              f"{v['wins']}/{v['losses']} | {v['verdict']} |")
    return verdicts


def layer_table(workload, seed, parent, change, layers):
    """Lines of the per-layer table of one traced run per side."""
    def value(run, name):
        m = run["metrics"].get(name)
        return None if m is None else m["value"]

    out = [f"\n## {workload}: per-layer metrics, traced seed {seed}",
           "| metric | parent | change | change - parent |",
           "|---|---|---|---|"]
    for m in layers:
        p, c = value(parent, m["name"]), value(change, m["name"])
        if p is None or c is None:
            diff = "n/a"
        else:
            diff = f"{c - p:+.4g}"
            if p:
                diff += f" ({100.0 * (c - p) / abs(p):+.1f}%)"
        out.append(f"| {m['name']} ({m['unit']}) | "
                   f"{'n/a' if p is None else fmt(p)} | "
                   f"{'n/a' if c is None else fmt(c)} | {diff} |")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", default="HEAD",
                    help="git ref of the parent side (default HEAD)")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--out", help="write runs and verdicts as JSON here")
    ap.add_argument("--layers", type=int, metavar="SEED",
                    help="after the pairs, one traced run per side at SEED "
                         "and a per-layer table")
    a = ap.parse_args(argv)
    seeds = parse_seeds(a.seeds)
    bench = load_benchmark(ROOT)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    sides = tempfile.mkdtemp(prefix="perfpairs-")
    parent_dir = os.path.join(sides, "parent")
    change_dir = os.path.join(sides, "change")
    result = {"parent": a.parent, "seconds": seconds, "seeds": seeds,
              "workloads": {}}
    try:
        os.mkdir(parent_dir)
        export_ref(a.parent, parent_dir)
        export_worktree(change_dir)
        for w in a.workload:
            runs = []
            result["workloads"][w] = {"runs": runs}
            for i, seed in enumerate(seeds):
                order = [("parent", parent_dir), ("change", change_dir)]
                if i % 2:
                    order.reverse()
                pair = {"seed": seed, "first": order[0][0]}
                for side, cwd in order:
                    pair[side] = run_once(cwd, w, seed, seconds)
                runs.append(pair)
                print(f"{w} seed {seed}: " + " ".join(
                    f"{s}={pair[s]['metrics']['latency_p50_ms']['value']:.0f}ms"
                    for s in ("parent", "change")), flush=True)
            result["workloads"][w]["verdicts"] = report(w, runs, metrics)
            if a.layers is not None:
                traced = {side: run_once(cwd, w, a.layers, seconds, trace=1)
                          for side, cwd in (("parent", parent_dir),
                                            ("change", change_dir))}
                result["workloads"][w]["layers"] = traced
                print("\n".join(layer_table(w, a.layers, traced["parent"],
                                             traced["change"],
                                             bench["per_layer"])))
    finally:
        shutil.rmtree(sides, ignore_errors=True)
        if a.out:
            with open(a.out, "w") as fh:
                json.dump(result, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
